package graft

import java.nio.file.Files

import graft.fhir.FhirPipeline

/** FHIR staging over inline records, no corpus on disk: a birthDate
  * that is not a calendar date becomes null instead of aborting the
  * batch under Spark 4's ANSI casts.
  */
class FhirPrepSpec extends SparkSpec {

  private val records =
    """[
      |{"record_id": 1, "name": {"family": "Valid", "given": ["Ann"], "prefix": "Ms."},
      | "gender": "female", "birthDate": "1980-05-17"},
      |{"record_id": 2, "name": {"family": "Leap", "given": ["Bo"], "prefix": "Mr."},
      | "gender": "male", "birthDate": "2023-02-29"},
      |{"record_id": 3, "name": {"family": "Year", "given": ["Cyd"]},
      | "gender": "female", "birthDate": "1975"}
      |]""".stripMargin

  test("prepPatient: an invalid birthDate is null, year-only is Jan 1, valid is kept") {
    val dir = Files.createTempDirectory("graft_fhir_prep")
    val path = dir.resolve("extracted.json")
    Files.writeString(path, records)
    val extracted = FhirPipeline.load(spark, path.toString)
    val got = FhirPipeline.prepPatient(extracted)
      .select("patient_id", "birthDate").collect()
      .map(r => r.getLong(0) -> Option(r.getDate(1)).map(_.toString)).toMap
    assert(got === Map(1L -> Some("1980-05-17"), 2L -> None, 3L -> Some("1975-01-01")))
    // the whole batch builds: the invalid date no longer throws
    val patients = FhirPipeline.buildGraph(extracted).nodes("Patient")
    assert(patients.count() === 3L)
  }
}
