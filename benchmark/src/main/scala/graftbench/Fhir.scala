package graftbench

import java.time.{Instant, LocalDate, OffsetDateTime}
import java.time.format.DateTimeFormatter

import scala.util.Random

final case class PName(family: Option[String], given: Seq[String], prefix: Option[String])
final case class Addr(line: String, city: String, state: String, postalCode: String, country: String)
final case class Subst(category: Option[String], name: Option[String], manifestation: Seq[String])
final case class Imm(traits: Option[Seq[String]], status: Option[String], occurrence: Option[String])
/** `address` is the FHIR union: a struct (Left) or a bare string (Right). */
final case class Prac(name: PName, address: Option[Either[Addr, String]],
    phone: Option[String], email: Option[String])
final case class Rec(id: Long, name: PName, age: Long, gender: Option[String],
    birthDate: Option[String], address: Option[Addr], phone: Option[String],
    email: Option[String], marital: Option[String], language: Option[String],
    allergy: Option[Seq[Subst]], immunization: Option[Seq[Imm]], prac: Option[Prac])

/** Extracted-FHIR records in the FIXTURES.md §2 shape, rendered as the
  * multi-line JSON array `FhirPipeline.load` reads.
  */
object FhirGen {
  val Cities: Vector[(String, String)] = Vector(
    "Boston" -> "Massachusetts", "East Longmeadow" -> "Massachusetts",
    "Worcester" -> "Massachusetts", "Springfield" -> "Massachusetts",
    "Hartford" -> "Connecticut", "Providence" -> "Rhode Island",
    "Portland" -> "Maine", "Concord" -> "New Hampshire")
  private val categories = Vector("food", "medication", "environment", "other")
  private val traitPool = Vector("influenza", "seasonal", "injectable", "preservative free",
    "hepatitis b", "tetanus", "pneumococcal", "covid")
  private val marital = Vector("Married", "Divorced", "Widowed", "NeverMarried")

  def family(r: Random): String = Words.cap(Words.word(r, 3))
  def givenName(r: Random): String = Words.cap(Words.word(r, 2)) + "n"
  def street(r: Random): String = Words.cap(Words.word(r, 3)) + "ia"

  /** Practitioners: a random pool plus the planted Josef Klein and
    * Arla Fritsch, each given a large share of patients.
    */
  def practitioners(seed: Long): Vector[Prac] = {
    val r = new Random(seed * 31L + 5L)
    def mk(given: String, fam: String, i: Int) = {
      val addr =
        if (i % 2 == 0) Some(Left(Addr(s"${10 + i} ${street(r)} Road", "Boston", "Massachusetts", f"02${i}%03d", "US")))
        else if (i % 3 == 0) None
        else Some(Right(s"${20 + i} ${street(r)} Avenue"))
      Prac(PName(Some(fam), Seq(given), Some("Dr.")), addr,
        if (i % 2 == 1) Some(f"555-01$i%02d") else None,
        if (i % 4 == 0) Some(s"${given.toLowerCase}.${fam.toLowerCase}@clinic.example") else None)
    }
    Vector(mk("Josef", "Klein", 0), mk("Arla", "Fritsch", 1)) ++
      (2 until 40).map(i => mk(givenName(r), family(r), i))
  }

  private def timestamp(r: Random): Option[String] = {
    val k = r.nextInt(20)
    val day = LocalDate.of(2019, 1, 15).plusDays(r.nextInt(6 * 365).toLong)
    // keep clear of the 2022-01-01 boundary golden 6 compares against
    val d = if (day.getYear == 2021 && day.getMonthValue == 12) day.minusDays(20) else
      if (day.getYear == 2022 && day.getMonthValue == 1 && day.getDayOfMonth < 3) day.plusDays(5) else day
    val hh = 8 + r.nextInt(9)
    if (k == 0) None
    else if (k == 1) Some(f"$d $hh%02d:00 GMT+1") // malformed zone: parses to null
    else {
      val off = Vector("+01:00", "-05:00", "Z", "+02:00")(r.nextInt(4))
      Some(f"${d}T$hh%02d:15:00$off")
    }
  }

  private def immunizations(r: Random, n: Int): Seq[Imm] = {
    // statuses are distinct within a record: the node key is record_status
    val statuses = r.shuffle(Vector(Some("completed"), None)).take(n)
    statuses.map { st =>
      val traits = if (r.nextInt(8) == 0) None
        else Some(r.shuffle(traitPool).take(1 + r.nextInt(3)))
      Imm(traits, st, timestamp(r))
    }
  }

  private def allergies(r: Random, n: Int, subs: Vector[String]): Seq[Subst] =
    r.shuffle(subs).take(n).map { s =>
      val named = r.nextInt(10) != 0
      Subst(if (r.nextInt(12) == 0) None else Some(Words.pick(r, categories)),
        if (named) Some(s) else None,
        if (named) Seq("hives", "rash").take(1 + r.nextInt(2)) else Seq.empty)
    }

  /** Substance names: a shared pool, so CAUSES fans in. */
  def substances(seed: Long): Vector[String] = {
    val r = new Random(seed * 131L + 7L)
    Vector("shellfish", "peanut", "penicillin", "pollen", "latex") ++
      Vector.fill(40)(Words.word(r, 3))
  }

  /** One random record. Sparse fields follow the corpus's measured
    * rates roughly: practitioner about half, immunization about a
    * sixth, allergy about a tenth.
    */
  def record(r: Random, id: Long, pracs: Vector[Prac], subs: Vector[String],
      immRate: Int = 6, allergyRate: Int = 10): Rec = {
    val gender = r.nextInt(10) match { case 0 => None; case k if k < 5 => Some("Male"); case _ => Some("Female") }
    val prefix = gender match {
      case Some("Male") => Some("Mr.")
      case Some(_) => Some(Words.pick(r, Vector("Mrs.", "Ms.")))
      case None => if (r.nextBoolean()) Some("Dr.") else None
    }
    val year = 1940 + r.nextInt(70)
    val birth = if (r.nextInt(25) == 0) s"$year"
      else LocalDate.of(year, 1, 1).plusDays(r.nextInt(365).toLong).toString
    val (city, state) = Words.pick(r, Cities)
    val prac = if (r.nextInt(2) == 0) None
      else Some(if (r.nextInt(6) == 0) pracs(r.nextInt(2)) else Words.pick(r, pracs))
    Rec(id,
      PName(Some(family(r)), Seq.fill(1 + r.nextInt(2))(givenName(r)), prefix),
      2025L - year, gender, Some(birth),
      Some(Addr(s"${1 + r.nextInt(999)} ${street(r)} Street", city, state, f"0${1000 + r.nextInt(8999)}%04d", "US")),
      if (r.nextInt(3) == 0) None else Some(f"555-${r.nextInt(10000)}%04d"),
      if (r.nextInt(4) == 0) Some(s"p$id@mail.example") else None,
      Some(Words.pick(r, marital)),
      r.nextInt(5) match { case 0 => None; case 1 => Some("Spanish"); case _ => Some("English") },
      if (r.nextInt(allergyRate) == 0) Some(allergies(r, 1 + r.nextInt(3), subs)) else None,
      if (r.nextInt(immRate) == 0) Some(immunizations(r, 1 + r.nextInt(2))) else None,
      prac)
  }

  /** Base records 1..n with the planted entities: Rosenbaum patients
    * (one with two immunization nodes), and record 45 with a shellfish
    * food allergy, an address and a practitioner.
    */
  def base(seed: Long, n: Int): Vector[Rec] = {
    val r = new Random(seed * 1009L + 3L)
    val pracs = practitioners(seed)
    val subs = substances(seed)
    (1L to n.toLong).toVector.map { id =>
      val rec = record(r, id, pracs, subs)
      if (id == 45L) rec.copy(
        allergy = Some(Seq(Subst(Some("food"), Some("shellfish"), Seq("hives")))),
        prac = Some(pracs(2 + r.nextInt(pracs.size - 2))),
        address = Some(Addr("12 Maple Street", "East Longmeadow", "Massachusetts", "01028", "US")))
      else if (id % 97 == 11) rec.copy(name = rec.name.copy(family = Some("Rosenbaum")),
        immunization = if (id == 11L) Some(immunizations(r, 2)) else rec.immunization)
      else rec
    }
  }

  // ---- JSON ---------------------------------------------------------

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def opt(o: Option[String]): String = o.fold("null")(q)
  private def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def name(n: PName): String =
    obj("family" -> opt(n.family), "given" -> arr(n.given), "prefix" -> opt(n.prefix))
  private def addr(a: Addr): String =
    obj("line" -> q(a.line), "city" -> q(a.city), "state" -> q(a.state),
      "postalCode" -> q(a.postalCode), "country" -> q(a.country))

  def json(rec: Rec): String = {
    val fields = Vector.newBuilder[(String, String)]
    fields += "record_id" -> rec.id.toString
    fields += "name" -> name(rec.name)
    fields += "age" -> rec.age.toString
    fields += "gender" -> opt(rec.gender)
    fields += "birthDate" -> opt(rec.birthDate)
    rec.address.foreach(a => fields += "address" -> addr(a))
    fields += "phone" -> opt(rec.phone)
    rec.email.foreach(e => fields += "email" -> q(e))
    fields += "maritalStatus" -> opt(rec.marital)
    fields += "primaryLanguage" -> opt(rec.language)
    rec.allergy.foreach(ss => fields += "allergy" -> obj("substance" -> ss.map(s =>
      obj("category" -> opt(s.category), "name" -> opt(s.name),
        "manifestation" -> arr(s.manifestation))).mkString("[", ",", "]")))
    rec.immunization.foreach(is => fields += "immunization" -> is.map(i =>
      obj("traits" -> i.traits.fold("null")(arr), "status" -> opt(i.status),
        "occurrenceDateTime" -> opt(i.occurrence))).mkString("[", ",", "]"))
    rec.prac.foreach(p => fields += "practitioner" -> obj(
      "name" -> name(p.name),
      "address" -> p.address.fold("null")(_.fold(addr, q)),
      "phone" -> opt(p.phone), "email" -> opt(p.email)))
    obj(fields.result(): _*)
  }

  def jsonArray(recs: Seq[Rec]): String = recs.map(json).mkString("[\n", ",\n", "\n]\n")
}

/** The property graph `FhirPipeline.buildGraph` and `upsertGraph` make
  * from a record batch, as plain Scala values: the planted truth for
  * the golden answers and for the Cypher templates. Node tables are
  * first-write per key, min (record_id, list position); intra-batch
  * duplicate patients differ only in a later birth date, so the
  * upsert's lexicographic-min rule picks the first write too.
  */
final case class GPatient(id: Long, surname: Option[String], given: Option[String],
    birth: Option[LocalDate])
final case class GGraph(
    patients: Map[Long, GPatient],
    pracs: Map[String, (Option[String], Option[String])], // id -> (givenName, surname)
    addrs: Map[String, (String, String)],                 // id -> (city, state)
    allergies: Map[String, Option[String]],               // id -> category
    substances: Set[String],
    imms: Map[String, (Option[Instant], Option[String])], // id -> (occurrence, traits)
    livesIn: Set[(Long, String)], treats: Set[(String, Long)],
    experiences: Set[(Long, String)], causes: Set[(String, String)],
    hasImm: Set[(Long, String)]) {

  def counts: Map[String, Long] = Map(
    "nodes_Patient" -> patients.size, "nodes_Practitioner" -> pracs.size,
    "nodes_Address" -> addrs.size, "nodes_Allergy" -> allergies.size,
    "nodes_Substance" -> substances.size, "nodes_Immunization" -> imms.size,
    "edges_LIVES_IN" -> livesIn.size, "edges_TREATS" -> treats.size,
    "edges_EXPERIENCES" -> experiences.size, "edges_CAUSES" -> causes.size,
    "edges_HAS_IMMUNIZATION" -> hasImm.size).map { case (k, v) => k -> v.toLong }

  def upsert(d: GGraph): GGraph = GGraph(
    patients ++ d.patients.filter(kv => !patients.contains(kv._1)),
    pracs ++ d.pracs.filter(kv => !pracs.contains(kv._1)),
    addrs ++ d.addrs.filter(kv => !addrs.contains(kv._1)),
    allergies ++ d.allergies.filter(kv => !allergies.contains(kv._1)),
    substances ++ d.substances,
    imms ++ d.imms.filter(kv => !imms.contains(kv._1)),
    livesIn ++ d.livesIn, treats ++ d.treats, experiences ++ d.experiences,
    causes ++ d.causes, hasImm ++ d.hasImm)

  private def full(g: Option[String], s: Option[String]): String = (g.toSeq ++ s.toSeq).mkString(" ")
  private def immsOf(pid: Long) = hasImm.filter(_._1 == pid).map(_._2)
  private def pracOf(pid: Long) = treats.filter(_._2 == pid).map(_._1)
  private def patientsOf(prac: String) = treats.filter(_._1 == prac).map(_._2)
  private val after2022 = Instant.parse("2022-01-01T00:00:00Z")

  /** The practitioner with the most patients (ties: smallest id). */
  private def topPractitioner: (String, Int) =
    treats.groupBy(_._1).toSeq.map { case (p, es) => p -> es.size }.sortBy { case (p, n) => (-n, p) }.head

  /** The ten `GoldenQueries` answers. */
  def golden: Golden = {
    def pracNamed(g: String, s: String) =
      pracs.filter { case (_, (gn, sn)) => gn.contains(g) && sn.contains(s) }.keySet
    val (top, n) = topPractitioner
    val q8 = for {
      (sub, aid) <- causes.toSeq if sub == "shellfish"
      (pid, a2) <- experiences.toSeq if a2 == aid && pid == 45L
      (p2, ad) <- livesIn.toSeq if p2 == pid
      pr <- pracOf(pid).toSeq
    } yield (addrs(ad)._1, addrs(ad)._2, full(pracs(pr)._1, pracs(pr)._2))
    Golden(
      patients.values.count(p => p.surname.contains("Rosenbaum") && immsOf(p.id).size > 1).toLong,
      pracNamed("Josef", "Klein").flatMap(patientsOf).flatMap(patients.get)
        .map(p => full(p.given, p.surname)),
      pracNamed("Arla", "Fritsch").toSeq.flatMap(patientsOf).distinct.size > 1,
      allergies.values.flatten.toSet,
      patients.values.count(_.birth.exists(b => b.getYear >= 1990 && b.getYear <= 2000)).toLong,
      hasImm.count { case (_, i) => imms(i)._1.exists(_.isAfter(after2022)) }.toLong,
      (full(pracs(top)._1, pracs(top)._2), n.toLong),
      q8.distinct match { case Seq(one) => one; case other => sys.error(s"q8 truth not unique: $other") },
      hasImm.count { case (_, i) => imms(i)._2.exists(_.contains("influenza")) }.toLong,
      causes.filter { case (_, a) => allergies(a).contains("food") }.map(_._1).size.toLong)
  }

  /** Rows the Cypher template of `shape` returns for patient `pid`,
    * rendered as `Rag.answerMany` renders graph rows.
    */
  def templateRows(shape: Int, pid: Long, year: Int): Seq[Seq[String]] = {
    val me = patients(pid)
    shape match {
      case 1 =>
        patients.values.filter(p => p.surname.map(_.toLowerCase) == me.surname.map(_.toLowerCase) &&
          immsOf(p.id).size > 1).toSeq.sortBy(_.id).take(10)
          .map(p => Seq(p.id.toString, immsOf(p.id).size.toString))
      case 2 =>
        pracOf(pid).toSeq.flatMap(patientsOf).distinct.map(patients)
          .map(p => (p.given, p.surname)).distinct
          .sortBy { case (g, s) => (s.getOrElse(""), g.getOrElse("")) }.take(10)
          .map { case (g, s) => Seq(g.orNull, s.orNull).map(String.valueOf) }
      case 3 => Seq(Seq(pracOf(pid).toSeq.flatMap(patientsOf).distinct.size.toString))
      case 4 =>
        experiences.toSeq.collect { case (`pid`, a) => allergies(a) }.flatten.distinct.sorted.map(Seq(_))
      case 5 => Seq(Seq(patients.values.count(_.birth.exists(_.getYear == year)).toString))
      case 6 => Seq(Seq(immsOf(pid).count(i => imms(i)._1.exists(_.isAfter(after2022))).toString))
      case 7 =>
        val (pr, n) = topPractitioner
        Seq(Seq(pracs(pr)._1.orNull, pracs(pr)._2.orNull, n.toString).map(String.valueOf))
      case 8 =>
        (for {
          (s, a) <- causes.toSeq if experiences((pid, a))
          ad <- livesIn.toSeq.collect { case (`pid`, a) => a }
          pr <- pracOf(pid).toSeq
        } yield Seq(s, addrs(ad)._1, addrs(ad)._2, pracs(pr)._1.orNull, pracs(pr)._2.orNull)
          .map(String.valueOf)).distinct.sortBy(_.head).take(10)
      case 9 => Seq(Seq(immsOf(pid).count(i => imms(i)._2.exists(_.contains("influenza"))).toString))
      case 10 =>
        experiences.toSeq.collect { case (`pid`, a) => a }
          .flatMap(a => causes.collect { case (s, `a`) => (allergies(a), s) })
          .groupBy(_._1).toSeq.map { case (c, ss) => (c, ss.map(_._2).distinct.size) }
          .sortBy { case (c, _) => c.getOrElse("") }
          .sortBy(_._1.isEmpty) // Cypher's ORDER BY puts nulls last
          .map { case (c, n) => Seq(String.valueOf(c.orNull), n.toString) }
    }
  }
}

final case class Golden(q1: Long, q2: Set[String], q3: Boolean, q4: Set[String], q5: Long,
    q6: Long, q7: (String, Long), q8: (String, String, String), q9: Long, q10: Long)

object GGraph {
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
  private def ts(s: String): Option[Instant] =
    scala.util.Try(OffsetDateTime.parse(s, tsFormat).toInstant).toOption
  private def birth(s: String): Option[LocalDate] =
    scala.util.Try(LocalDate.parse(if (s.length == 4) s"$s-01-01" else s)).toOption

  /** `FhirPipeline.buildGraph` over one batch. */
  def build(recs: Seq[Rec]): GGraph = {
    val byId = recs.zipWithIndex.sortBy { case (r, i) => (r.id, i) }.map(_._1)
    def firstWrite[K, V](rows: Seq[(K, V)]): Map[K, V] =
      rows.foldLeft(Map.empty[K, V]) { case (m, (k, v)) => if (m.contains(k)) m else m + (k -> v) }
    val patients = firstWrite(byId.map(r => r.id -> GPatient(r.id, r.name.family,
      Some(r.name.given.mkString(" ")), r.birthDate.flatMap(birth))))
    def pracId(p: Prac): Option[String] = for (pre <- p.name.prefix; fam <- p.name.family)
      yield s"${pre}_${p.name.given.mkString("_")}_$fam".toLowerCase
    val pracs = firstWrite(byId.flatMap(r => r.prac.flatMap(p => pracId(p).map(_ ->
      (Some(p.name.given.mkString("")), p.name.family)))))
    val addrs = firstWrite(byId.flatMap(r => r.address.map(a =>
      s"${a.line}_${a.postalCode}".toLowerCase -> (a.city, a.state))))
    val subst = byId.flatMap(r => r.allergy.toSeq.flatten.map { s =>
      val id = s"${r.id}_${s.category.getOrElse("unknown").toLowerCase}_${s.name.getOrElse("unknown").toLowerCase}"
      (r.id, id, s.category.map(_.toLowerCase), s.name.map(_.toLowerCase))
    })
    val imm = byId.flatMap(r => r.immunization.toSeq.flatten.map { i =>
      val st = i.status.map(_.toLowerCase)
      (r.id, s"${r.id}_${st.getOrElse("unknown")}", st, i.occurrence.flatMap(ts),
        i.traits.map(_.mkString(", ").toLowerCase))
    }.filter { case (_, _, st, occ, tr) => st.isDefined || occ.isDefined || tr.isDefined })
    GGraph(
      patients, pracs, addrs,
      firstWrite(subst.map { case (_, id, cat, _) => id -> cat }),
      subst.flatMap(_._4).toSet,
      firstWrite(imm.map { case (_, id, _, occ, tr) => id -> (occ, tr) }),
      byId.flatMap(r => r.address.map(a => r.id -> s"${a.line}_${a.postalCode}".toLowerCase)).toSet,
      byId.flatMap(r => r.prac.flatMap(pracId).map(_ -> r.id)).toSet,
      subst.map { case (rid, id, _, _) => rid -> id }.toSet,
      subst.collect { case (_, id, _, Some(n)) => n -> id }.toSet,
      imm.map { case (rid, id, _, _, _) => rid -> id }.toSet)
  }
}

/** One `graph` op's ingest input: a JSON delta and the graph after
  * upserting it into the base graph.
  */
final case class Delta(records: Vector[Rec], graph: GGraph)

object IngestGen {
  /** A delta mixes new keys (some treated by the planted practitioners,
    * some with food allergies and influenza shots), re-sent base keys
    * with changed patient properties (first write wins: ignored), and
    * new keys sent twice, the second time with a later birth date.
    */
  def delta(seed: Long, index: Int, base: Vector[Rec], size: Int): Delta =
    delta(seed, index, base, size, GGraph.build(base))

  /** A delta over `stored`, the model of the graph it is upserted into. */
  def delta(seed: Long, index: Int, base: Vector[Rec], size: Int, stored: GGraph): Delta = {
    val r = new Random(seed * 524287L + index)
    val pracs = FhirGen.practitioners(seed)
    val subs = FhirGen.substances(seed)
    val nNew = size * 6 / 10
    val nResent = size * 3 / 10
    val nDup = size - nNew - nResent
    val firstNew = base.map(_.id).max + 1 + index * 100000L
    val fresh = (0 until nNew).map(i => FhirGen.record(r, firstNew + i, pracs, subs, immRate = 2, allergyRate = 3))
    // whole years later, still a valid date (Feb 29 becomes Feb 28)
    def later(d: String, years: Int): String =
      if (d.length == 4) (d.toInt + years).toString else LocalDate.parse(d).plusYears(years.toLong).toString
    val resent = r.shuffle(base).take(nResent).map { b =>
      b.copy(birthDate = b.birthDate.map(later(_, 7)), marital = Some("Divorced"),
        name = if (r.nextBoolean()) b.name.copy(family = Some("Rosenbaum")) else b.name)
    }
    val dups = r.shuffle(fresh).take(nDup).map { f =>
      f.copy(birthDate = f.birthDate.map(later(_, 3)),
        phone = Some("555-9999"))
    }
    val recs = r.shuffle((fresh ++ resent).toVector) ++ dups
    Delta(recs, stored.upsert(GGraph.build(recs)))
  }
}

/** The question-answering inputs: one note per base record, and
  * question batches.
  * Each question names its target patient by the note's unique tokens
  * (the pid token, surname, given names, street) and carries one cue
  * word that picks its Cypher template.
  */
final case class Question(text: String, shape: Int, pid: Long, year: Int, note: String)

object RagGen {
  val Cues: Vector[String] = Vector("several", "share", "treat", "categories", "born",
    "after", "most", "substance", "influenza", "substances")

  def note(r: Rec): String = {
    val n = r.name
    val who = (n.prefix.toSeq ++ n.given ++ n.family.toSeq).mkString(" ")
    val addr = r.address.fold("")(a => s" Lives at ${a.line}, ${a.city}, ${a.state} ${a.postalCode}.")
    val all = r.allergy.toSeq.flatten.flatMap(_.name)
    val imm = r.immunization.toSeq.flatten.flatMap(_.traits.toSeq.flatten)
    val pr = r.prac.map(p => (p.name.given ++ p.name.family.toSeq).mkString(" "))
    s"Clinical note pid${r.id} for $who, born ${r.birthDate.getOrElse("unknown")}.$addr" +
      (if (all.nonEmpty) s" Allergic to ${all.mkString(", ")}." else "") +
      (if (imm.nonEmpty) s" Received ${imm.distinct.mkString(", ")} vaccine." else "") +
      pr.fold("")(p => s" Seen by $p.")
  }

  private def eligible(shape: Int, rec: Rec, g: GGraph): Boolean = {
    val imms = g.hasImm.count(_._1 == rec.id)
    val named = rec.allergy.exists(_.exists(_.name.isDefined))
    shape match {
      case 1 => imms > 1
      case 6 | 9 => imms > 0
      case 2 | 3 => rec.prac.isDefined
      case 4 | 10 => named
      case 8 => named && rec.prac.isDefined && rec.address.isDefined
      case _ => true
    }
  }

  /** The target's unique tokens appear twice, so they outweigh the
    * template words in the question's embedding and the target note
    * ranks first in both retrieval arms.
    */
  def question(shape: Int, rec: Rec): String = {
    val who = s"pid${rec.id} ${rec.name.family.getOrElse("")} ${rec.name.given.mkString(" ")} " +
      rec.address.fold("")(a => s"${a.line.split(' ')(1)} ${a.postalCode}")
    val year = rec.birthDate.map(_.take(4)).getOrElse("1970")
    val body = shape match {
      case 1 => s"How many patients sharing the surname of $who have several immunizations?"
      case 2 => s"Which patients share the practitioner of $who?"
      case 3 => s"How many patients does the practitioner of $who treat?"
      case 4 => s"Which allergy categories does $who have?"
      case 5 => s"How many patients were born in $year like $who?"
      case 6 => s"How many immunizations after 2022 does $who have?"
      case 7 => s"Which practitioner treated the most patients, asks $who?"
      case 8 => s"Which substance, city, state and practitioner belong to $who?"
      case 9 => s"How many influenza immunizations does $who have?"
      case 10 => s"How many substances per category cause allergies for $who?"
    }
    s"$body ($who)"
  }

  /** `perShape` questions of every shape in `shapes`, on distinct
    * eligible targets.
    */
  def batch(seed: Long, index: Int, base: Vector[Rec], g: GGraph, perShape: Int,
      shapes: Seq[Int] = 1 to 10): Vector[Question] = {
    val r = new Random(seed * 8191L + index)
    shapes.toVector.flatMap { shape =>
      r.shuffle(base.filter(eligible(shape, _, g))).take(perShape).map { rec =>
        val year = rec.birthDate.map(_.take(4).toInt).getOrElse(1970)
        Question(question(shape, rec), shape, rec.id, year, note(rec))
      }
    }
  }

  /** The deterministic Text2Cypher stand-in: the cue word picks the
    * template, the pid keyword names the patient; the template for the
    * surname shape reads the keyword after the pid, which is the surname.
    */
  def toCypher(kws: Seq[String]): String = {
    val at = kws.indexWhere(_.startsWith("pid"))
    val pid = kws(at).drop(3).toLong
    val fam = kws(at + 1)
    val year = kws.find(k => k.length == 4 && k.forall(_.isDigit)).getOrElse("1970")
    Cues.indexWhere(kws.contains) + 1 match {
      case 1 =>
        s"""MATCH (p:Patient)-[:HAS_IMMUNIZATION]->(i:Immunization)
           |WHERE toLower(p.surname) = '$fam'
           |WITH p, count(i) AS n WHERE n > 1
           |RETURN p.id AS id, n ORDER BY id LIMIT 10""".stripMargin
      case 2 =>
        s"""MATCH (pr:Practitioner)-[:TREATS]->(p:Patient) WHERE p.id = $pid
           |MATCH (pr)-[:TREATS]->(q:Patient)
           |RETURN DISTINCT q.givenName AS g, q.surname AS s ORDER BY s, g LIMIT 10""".stripMargin
      case 3 =>
        s"""MATCH (pr:Practitioner)-[:TREATS]->(p:Patient) WHERE p.id = $pid
           |MATCH (pr)-[:TREATS]->(q:Patient)
           |RETURN count(DISTINCT q) AS n""".stripMargin
      case 4 =>
        s"""MATCH (p:Patient)-[:EXPERIENCES]->(a:Allergy)
           |WHERE p.id = $pid AND a.category IS NOT NULL
           |RETURN DISTINCT a.category AS c ORDER BY c""".stripMargin
      case 5 =>
        s"""MATCH (p:Patient)
           |WHERE p.birthDate >= CAST('$year-01-01' AS DATE)
           |  AND p.birthDate <= CAST('$year-12-31' AS DATE)
           |RETURN count(*) AS n""".stripMargin
      case 6 =>
        s"""MATCH (p:Patient)-[:HAS_IMMUNIZATION]->(i:Immunization)
           |WHERE p.id = $pid AND i.occurrenceDateTime > CAST('2022-01-01' AS TIMESTAMP)
           |RETURN count(*) AS n""".stripMargin
      case 7 =>
        """MATCH (pr:Practitioner)-[:TREATS]->(p:Patient)
          |WITH pr, count(DISTINCT p) AS n ORDER BY n DESC, pr ASC LIMIT 1
          |RETURN pr.givenName AS g, pr.surname AS s, n""".stripMargin
      case 8 =>
        s"""MATCH (s:Substance)-[:CAUSES]->(a:Allergy)<-[:EXPERIENCES]-(p:Patient),
           |      (p)-[:LIVES_IN]->(ad:Address), (p)<-[:TREATS]-(pr:Practitioner)
           |WHERE p.id = $pid
           |RETURN s.name AS s, ad.city AS city, ad.state AS state,
           |       pr.givenName AS g, pr.surname AS f ORDER BY s LIMIT 10""".stripMargin
      case 9 =>
        s"""MATCH (p:Patient)-[:HAS_IMMUNIZATION]->(i:Immunization)
           |WHERE p.id = $pid AND toLower(i.traits) CONTAINS 'influenza'
           |RETURN count(*) AS n""".stripMargin
      case 10 =>
        s"""MATCH (s:Substance)-[:CAUSES]->(a:Allergy)<-[:EXPERIENCES]-(p:Patient)
           |WHERE p.id = $pid
           |RETURN a.category AS c, count(DISTINCT s) AS n ORDER BY c""".stripMargin
      case _ => sys.error(s"no template cue in ${kws.mkString(" ")}")
    }
  }
}
