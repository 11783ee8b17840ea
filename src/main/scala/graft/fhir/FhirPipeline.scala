package graft.fhir

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.graph.PropertyGraph

/** The reference pipeline's data spine, Spark-native: typed ingest of
  * the extracted-FHIR records, the five staging transforms
  * (build_graph.py:82-206), and the property-graph build
  * (build_graph.py:209-402) as deterministic DataFrame programs.
  *
  * Upsert semantics: Kuzu `MERGE … SET` applies rows sequentially, so
  * duplicate keys within one batch resolve to whichever row the
  * engine visits last — NONDETERMINISTIC across runs (SURVEY §7.4).
  * Here every node table dedups with an explicit first-write rule
  * (min (record_id, list position) per key) via a window — a
  * deterministic, shuffle-keyed equivalent. Where a published golden
  * answer depends on Kuzu's arbitrary intra-batch order (question 9:
  * 204 lies strictly between last-write 203 and first-write 205) the
  * divergence is documented at the assertion site.
  */
object FhirPipeline {

  private val nameType = StructType(Seq(
    StructField("family", StringType), StructField("given", ArrayType(StringType)),
    StructField("prefix", StringType)))
  private val addressType = StructType(Seq(
    StructField("line", StringType), StructField("city", StringType),
    StructField("state", StringType), StructField("postalCode", StringType),
    StructField("country", StringType)))

  /** Declared, fixed schema (never inferSchema — SURVEY §1.4):
    * extract_fhir.baml:1-56 verified against the data file.
    */
  val schema: StructType = StructType(Seq(
    StructField("record_id", LongType),
    StructField("name", nameType),
    StructField("age", LongType),
    StructField("gender", StringType),
    StructField("birthDate", StringType),
    StructField("address", addressType),
    StructField("phone", StringType),
    StructField("email", StringType),
    StructField("maritalStatus", StringType),
    StructField("primaryLanguage", StringType),
    StructField("allergy", StructType(Seq(
      StructField("substance", ArrayType(StructType(Seq(
        StructField("category", StringType), StructField("name", StringType),
        StructField("manifestation", ArrayType(StringType))))))))),
    StructField("immunization", ArrayType(StructType(Seq(
      StructField("traits", ArrayType(StringType)),
      StructField("status", StringType),
      StructField("occurrenceDateTime", StringType))))),
    StructField("practitioner", StructType(Seq(
      StructField("name", nameType),
      // extract_fhir.baml:35-40 declares `address Address | string` —
      // ingested as a RAW STRING (Spark's JSON reader captures object
      // values as their JSON text for StringType fields), so
      // string-typed addresses survive instead of silently nulling
      // out; practitionerAddress() normalizes to the struct view.
      StructField("address", StringType),
      StructField("phone", StringType), StructField("email", StringType))))))

  /** Multi-line JSON array ingest (S2, reference pl.read_json). */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = true).schema(schema).json(path)

  /** Normalize the practitioner address union (struct | string) to
    * the Address struct: JSON-object text parses with from_json;
    * a bare street string lands in `line` with the other parts null
    * (the shape the reference's BAML union produces for `string`).
    */
  def practitionerAddress(raw: Column): Column = {
    val nullStr = lit(null).cast(StringType)
    when(raw.isNull, lit(null).cast(addressType))
      .when(substring(ltrim(raw), 1, 1) === "{", from_json(raw, addressType))
      .otherwise(struct(
        raw.as("line"), nullStr.as("city"), nullStr.as("state"),
        nullStr.as("postalCode"), nullStr.as("country")))
  }

  /** Polars concat_str-style null-propagating join (Spark's concat_ws
    * SKIPS nulls — the reference's key recipes need propagation so
    * incomplete keys become NULL and get filtered, SURVEY §7.4).
    */
  private def concatNull(sep: String, cols: Column*): Column =
    concat(cols.flatMap(c => Seq(lit(sep), c)).drop(1): _*)

  // ---- staging transforms (build_graph.py:82-206) -------------------

  /** prep_address_df: id = lower(line_postalCode), null-propagating. */
  def prepAddress(df: DataFrame): DataFrame =
    df.select(col("record_id"), col("address.*"))
      .select(
        col("record_id"),
        lower(concatNull("_", col("line"), col("postalCode"))).as("id"),
        col("line").as("street"),
        col("city"), col("state"), col("postalCode"), col("country"))

  /** prep_patient_df + the ingest-side gender_inferred CASE
    * (build_graph.py:233-239) and year-only birthDate repair. A
    * birthDate that is not a calendar date (an extracted `2023-02-29`)
    * becomes null: `try_cast`, because under Spark 4's ANSI default a
    * plain cast throws and one bad record would abort the batch.
    */
  def prepPatient(df: DataFrame): DataFrame =
    df.select(
      col("record_id").as("patient_id"),
      col("name.prefix").as("prefix"),
      col("name.family").as("surname"),
      array_join(col("name.given"), " ").as("givenName"),
      col("gender"),
      when(length(col("birthDate")) === 4, concat(col("birthDate"), lit("-01-01")))
        .otherwise(col("birthDate")).try_cast(DateType).as("birthDate"),
      col("phone"), col("email"), col("maritalStatus"), col("primaryLanguage"))
      .withColumn("gender_inferred",
        when(col("gender").isin("male", "Male"), "M")
          .when(col("gender").isin("female", "Female"), "F")
          .when(col("prefix") === "Mr.", "M")
          .when(col("prefix").isin("Mrs.", "Ms."), "F"))

  /** prep_practitioner_df: id = lower(prefix_given…_family), given
    * joined with "_" in the id but "" in the display name (reference
    * build_graph.py:120-130 — faithfully replicated, quirk included).
    */
  def prepPractitioner(df: DataFrame): DataFrame =
    df.select(col("record_id"), col("practitioner.*"))
      .select(
        col("record_id"),
        lower(concatNull("_",
          col("name.prefix"), array_join(col("name.given"), "_"),
          col("name.family"))).as("id"),
        col("name.family").as("surname"),
        array_join(col("name.given"), "").as("givenName"),
        practitionerAddress(col("address")).as("address"),
        col("phone"), col("email"))

  /** prep_substance_df: explode allergy substances; synthetic key
    * record_id_category_name with unknown-coalesce; `pos` preserves
    * list order for the deterministic upsert.
    */
  def prepSubstance(df: DataFrame): DataFrame =
    df.select(col("record_id"), col("allergy.substance").as("substance"))
      .filter(col("substance").isNotNull)
      .select(col("record_id"), posexplode(col("substance")).as(Seq("pos", "s")))
      .select(
        col("record_id"), col("pos"),
        concatNull("_",
          col("record_id").cast(StringType),
          lower(coalesce(col("s.category"), lit("unknown"))),
          lower(coalesce(col("s.name"), lit("unknown")))).as("id"),
        lower(col("s.name")).as("name"),
        lower(col("s.category")).as("category"),
        lower(array_join(col("s.manifestation"), ", ")).as("manifestation"))

  /** prep_immunization_df: explode (null list ⇒ one all-null row,
    * dropped by the any-non-null filter), offset timestamp → UTC-naive
    * (try_to_timestamp: malformed ⇒ NULL, matching strptime
    * strict=False), key record_id_status. The filter runs on the
    * PARSED timestamp, as in the reference.
    */
  def prepImmunization(df: DataFrame): DataFrame =
    df.select(col("record_id"), posexplode_outer(col("immunization")).as(Seq("pos", "im")))
      .select(
        col("record_id"), col("pos"),
        concatNull("_",
          col("record_id").cast(StringType),
          lower(coalesce(col("im.status"), lit("unknown")))).as("id"),
        lower(col("im.status")).as("status"),
        try_to_timestamp(col("im.occurrenceDateTime"),
          lit("yyyy-MM-dd'T'HH:mm:ssXXX")).as("occurrenceDateTime"),
        lower(array_join(col("im.traits"), ", ")).as("traits"))
      .filter(
        col("status").isNotNull || col("occurrenceDateTime").isNotNull ||
          col("traits").isNotNull)

  /** Persist a built graph as one parquet table per node label and
    * relationship (the reference's Kuzu store → columnar files,
    * SURVEY S6). Batch rebuild = overwrite; incremental upsert =
    * union + the same first-write dedup + overwrite.
    *
    * Stage-then-swap: every table is first written to a staging
    * subdirectory and only swapped into place after ALL writes
    * succeed. A direct overwrite would delete source files while a
    * graph WHOSE FRAMES READ FROM THIS DIRECTORY is being rewritten
    * (the incremental-rebuild path) — a mid-read FileNotFound.
    *
    * The swap goes through the Hadoop FileSystem API, so it works on
    * whatever store the session targets (local, HDFS; on S3-style
    * object stores rename degrades to copy — at that scale prefer a
    * table format with transactional overwrite).
    */
  def writeGraph(g: PropertyGraph, dir: String): Unit = {
    val stage = s"$dir/.staging"
    val tables =
      g.nodes.map { case (l, df) => s"nodes_$l" -> df } ++
        g.edges.map { case (r, (_, _, df)) => s"edges_$r" -> df }
    if (tables.isEmpty) return
    for ((name, df) <- tables)
      df.write.mode("overwrite").parquet(s"$stage/$name")
    val conf = tables.head._2.sparkSession.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    for ((name, _) <- tables) {
      val target = new org.apache.hadoop.fs.Path(s"$dir/$name")
      if (fs.exists(target)) fs.delete(target, true)
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$stage/$name"), target),
        s"rename $stage/$name -> $target failed")
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** Incremental graph upsert — Kuzu `MERGE`'s batch equivalent
    * (reference build_graph.py:209-224), deterministic: survivors
    * (keys already in `existing`) keep their stored properties
    * UNTOUCHED — first-write-wins extended across batches — and new
    * keys append. Every DELTA table is first normalized to one row
    * per key — intra-batch duplicate keys resolve to the
    * lexicographic-min row (deterministic, closing the
    * arbitrary-intra-batch-order hole Kuzu MERGE has, golden-9's
    * 204) — then merged as `existing ∪ (delta ⟕anti existing on
    * key)`: node tables key on id, relationships on (src, dst). Per
    * table that is one window over the DELTA (the small side) plus
    * one skinny-key anti-join; `existing` never re-shuffles its
    * payload — at scale bucket the store by key and the anti-join
    * co-locates.
    *
    * Labels/rel types present on only one side pass through (a delta
    * can introduce new tables — those normalize too). Compose with
    * [[writeGraph]] for the full ingest step: its stage-then-swap
    * makes writing the merged graph back OVER the directory
    * `existing` reads from safe (every table stages before any
    * target is replaced).
    */
  def upsertGraph(existing: PropertyGraph, delta: PropertyGraph): PropertyGraph = {
    def norm(d: DataFrame, keys: Seq[String]): DataFrame =
      keepFirst(d, keys, d.columns.map(col).toIndexedSeq)
    def mergeOn(e: DataFrame, d: DataFrame, keys: Seq[String]): DataFrame =
      e.unionByName(d.join(e.select(keys.map(col): _*), keys, "left_anti"))
    val nodes = (existing.nodes.keySet ++ delta.nodes.keySet).map { l =>
      l -> ((existing.nodes.get(l), delta.nodes.get(l).map(norm(_, Seq("id")))) match {
        case (Some(e), Some(d)) => mergeOn(e, d, Seq("id"))
        case (Some(e), None)    => e
        case (None, d)          => d.get
      })
    }.toMap
    val edges = (existing.edges.keySet ++ delta.edges.keySet).map { r =>
      r -> ((existing.edges.get(r),
          delta.edges.get(r).map { case (s, t, d) => (s, t, norm(d, Seq("src", "dst"))) }) match {
        case (Some((s, t, e)), Some((s2, t2, d))) =>
          require(s == s2 && t == t2, s"endpoint labels diverge for $r")
          (s, t, mergeOn(e, d, Seq("src", "dst")))
        case (Some(e), None) => e
        case (None, d)       => d.get
      })
    }.toMap
    PropertyGraph(nodes, edges)
  }

  /** Load a graph previously written by writeGraph (table discovery
    * through the Hadoop FileSystem, same as the writer).
    */
  def readGraph(spark: SparkSession, dir: String,
      edgeMeta: Map[String, (String, String)]): PropertyGraph = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val base = fs.listStatus(p).map(_.getPath.getName)
    val nodes = base.filter(_.startsWith("nodes_"))
      .map(n => n.stripPrefix("nodes_") -> spark.read.parquet(s"$dir/$n")).toMap
    val edges = base.filter(_.startsWith("edges_"))
      .map { e =>
        val rel = e.stripPrefix("edges_")
        val (src, dst) = edgeMeta(rel)
        rel -> ((src, dst, spark.read.parquet(s"$dir/$e")))
      }.toMap
    PropertyGraph(nodes, edges)
  }

  // ---- graph build (nodes + edges, deterministic upsert) ------------

  /** One row per key, keeping the first under `order` — the shared
    * deterministic-dedup kernel behind batch firstWrite and the
    * upsert delta normalization.
    */
  private def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** First-write-wins per key: the row with minimal (record_id, pos). */
  private def firstWrite(df: DataFrame, key: String, order: Seq[Column]): DataFrame =
    keepFirst(df, Seq(key), order)

  def buildGraph(extracted: DataFrame): PropertyGraph = {
    val addr = prepAddress(extracted)
    val pat = prepPatient(extracted)
    val prac = prepPractitioner(extracted)
    val subst = prepSubstance(extracted)
    val imm = prepImmunization(extracted)

    val addressNodes = firstWrite(addr.filter(col("id").isNotNull),
      "id", Seq(col("record_id")))
      .select(col("id"), col("street"), col("city"), col("state"),
        col("postalCode"), col("country"))
    val patientNodes = pat.withColumn("id", col("patient_id"))
    val practitionerNodes = firstWrite(prac.filter(col("id").isNotNull),
      "id", Seq(col("record_id")))
      .select(col("id"), col("surname"), col("givenName"), col("phone"), col("email"))
    // The reference's Kuzu DDL names Substance's PRIMARY KEY `name`
    // (build_graph.py:22), so a Text2Cypher model prompted with that
    // schema emits `s.name` — the engine's node id IS the name,
    // carried under BOTH spellings: `id` (the engine's node-table
    // contract) and `name` (the DDL PK). One duplicated string column
    // on a dimension table; schemaXml stays truthful (it advertises
    // what the table really carries).
    val substanceNodes = subst.filter(col("name").isNotNull)
      .select(col("name").as("id"), col("name")).distinct()
    val allergyNodes = firstWrite(subst.filter(col("id").isNotNull),
      "id", Seq(col("record_id"), col("pos")))
      .select(col("id"), col("category"), col("manifestation"))
    val immunizationNodes = firstWrite(imm, "id", Seq(col("record_id"), col("pos")))
      .select(col("id"), col("status"), col("occurrenceDateTime"), col("traits"))

    val patIds = patientNodes.select(col("id"))
    val livesIn = PropertyGraph.buildEdges(addr, "record_id", "id",
      patIds, addressNodes)
    val treats = PropertyGraph.buildEdges(prac, "id", "record_id",
      practitionerNodes, patIds)
    val experiences = PropertyGraph.buildEdges(subst, "record_id", "id",
      patIds, allergyNodes)
    val causes = PropertyGraph.buildEdges(subst.filter(col("name").isNotNull),
      "name", "id", substanceNodes, allergyNodes)
    val hasImmunization = PropertyGraph.buildEdges(imm, "record_id", "id",
      patIds, immunizationNodes)

    PropertyGraph(
      nodes = Map(
        "Address" -> addressNodes, "Patient" -> patientNodes,
        "Practitioner" -> practitionerNodes, "Substance" -> substanceNodes,
        "Allergy" -> allergyNodes, "Immunization" -> immunizationNodes),
      edges = Map(
        "LIVES_IN" -> (("Patient", "Address", livesIn)),
        "TREATS" -> (("Practitioner", "Patient", treats)),
        "EXPERIENCES" -> (("Patient", "Allergy", experiences)),
        "CAUSES" -> (("Substance", "Allergy", causes)),
        "HAS_IMMUNIZATION" -> (("Patient", "Immunization", hasImmunization))))
  }
}
