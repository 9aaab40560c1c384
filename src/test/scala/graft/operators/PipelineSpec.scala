package graft.operators

import java.nio.file.Files

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end flow: dirty scraper JSON -> warehouse star schema. */
class PipelineSpec extends AnyFunSuite {
  import SharedSpark._

  private def writeLake(): String = {
    val dir = Files.createTempDirectory("graft_pipe").toFile
    val f = new java.io.File(dir, "offers.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"job_url":"u1","titre":"Data Engineer!","via":"rekrute","publication_date":"2024-03-05","description":"spark data hash join cloud","contrat":"CDI","companie":"Acme","niveau_etudes":"Master","niveau_experience":"3 ans","skills":{"hard_skills":["Python","Spark "],"soft_skills":["Communication"]}}""")
    w.println("""{"job_url":"u1","titre":"Data Engineer!","via":"rekrute","publication_date":"2024-03-06","description":"dup of u1 later date","contrat":"CDI","niveau_etudes":"Master"}""")
    w.println("""{"job_url":"u2","titre":"Vendeur","via":"indeed","publication_date":"07/04/2024","description":"vente magasin sort merge","contrat":"","niveau_etudes":"Bac"}""")
    w.println("""{"job_url":"","titre":"NoUrl","via":"indeed","publication_date":"2024-01-01","description":"x","contrat":"CDD","niveau_etudes":"Bac"}""")
    w.println("""{"job_url":"u3","titre":"Chercheur","via":"emploi","publication_date":"not a date","description":"table scan fast","contrat":"CDD","niveau_etudes":"Doctorat"}""")
    w.println("""BROKEN {not json""")
    w.close()
    f.getAbsolutePath
  }

  test("lake -> star warehouse: dedup, quarantine, FK integrity") {
    val out = Files.createTempDirectory("graft_pipe_out").toFile.getAbsolutePath
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val r = Pipeline.run(spark, writeLake(), out)
    // the quarantine's cache is released once the run has read it
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      "Pipeline.run left a cached RDD behind")

    assert(r.nRaw === 6)
    assert(r.nQuarantined === 1)
    // u1 deduped (earliest pub_date wins), empty-url row dropped
    assert(r.nClean === 3)
    // u3 has an unparseable date -> excluded from the partitioned fact
    assert(r.nFacts === 2)
    assert(r.nSkillLinks > 0)

    // earliest-publication survivor for u1
    val fact = spark.read.parquet(s"$out/fact_offre")
    val u1 = fact.filter(col("job_url") === "u1").head
    assert(u1.getAs[java.sql.Date]("pub_date").toString === "2024-03-05")

    // FK integrity: every fact dim id resolves, for every dimension
    Seq("dim_source" -> "id_source", "dim_contrat" -> "id_contrat",
      "dim_titre" -> "id_titre", "dim_compagnie" -> "id_compagnie",
      "dim_niveau_etudes" -> "id_niveau_etudes",
      "dim_niveau_experience" -> "id_niveau_experience").foreach {
      case (d, id) =>
        val dimDf = spark.read.parquet(s"$out/$d")
        assert(fact.join(dimDf, fact(id) === dimDf(id)).count() === fact.count(),
          s"dangling $id in fact")
    }
    // dim_date spans the observed publication range plus the
    // DEFAULT_DATE sentinel, with the reference's full attribute set
    val dDate = spark.read.parquet(s"$out/dim_date")
    assert(dDate.count() >= 3)
    assert(dDate.filter(col("full_date") === Pipeline.SentinelDate).count() === 1)
    val span = dDate.filter(col("full_date") =!= Pipeline.SentinelDate)
      .agg(min(col("full_date")), max(col("full_date"))).head
    assert(span.getDate(0).toString === "2024-03-05")
    assert(span.getDate(1).toString === "2024-04-07")
    val mar5 = dDate.filter(col("full_date") === "2024-03-05").head
    assert(mar5.getAs[Int]("year_month") === 202403)
    assert(mar5.getAs[Int]("week_of_year") === 10)
    assert(mar5.getAs[String]("month_name") === "March")
    assert(mar5.getAs[String]("date_str") === "05/03/2024")
    assert(mar5.getAs[Int]("jour_semaine") === 2) // Tuesday, isoweekday

    // dim_compagnie carries the secteur attribute (schema.sql:36-41)
    val dComp = spark.read.parquet(s"$out/dim_compagnie")
    assert(dComp.columns.contains("secteur"))
    assert(dComp.filter(col("value") === "acme").head
      .getAs[String]("secteur") === "Data")

    // fact payload columns (schema.sql:78-80) survive to the warehouse
    assert(Seq("description", "competences", "secteur")
      .forall(fact.columns.contains))
    assert(fact.filter(col("job_url") === "u1").head
      .getAs[String]("description").contains("spark"))

    // bridge links only surviving offers; every link resolves in the
    // get-or-create skill dim built from payload + phrase matches
    val bridge = spark.read.parquet(s"$out/offre_skill")
    val skills = spark.read.parquet(s"$out/dim_skill")
    assert(bridge.join(skills, "id_skill").count() === bridge.count())
    assert(bridge.select("job_url").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("u1", "u2", "u3")))
    // the NER-payload skills were flattened, normalized, and
    // dimensioned alongside the phrase-matched vocabulary terms
    val skillNames = skills.collect().map(r => r.getAs[String]("nom")).toSet
    assert(Set("python", "spark", "communication").subsetOf(skillNames))
    val u1Skills = bridge.filter(col("job_url") === "u1").join(skills, "id_skill")
      .collect().map(_.getAs[String]("nom")).toSet
    assert(Set("python", "communication", "spark", "hash join").subsetOf(u1Skills))

    // enrichment: u2's "vente" description classified Commerce, Bac -> 2
    val contratDefault = spark.read.parquet(s"$out/dim_contrat")
      .filter(col("value") === "unspecified")
    assert(contratDefault.count() === 1) // u2's empty contrat defaulted

    // canonicalization: "3 ans" is neither junior- nor expert-listed ->
    // senior (init_groq.py experience rules); absent stays Unspecified
    val expValues = spark.read.parquet(s"$out/dim_niveau_experience")
      .collect().map(_.getAs[String]("value")).toSet
    assert(expValues === Set("senior", "unspecified"))
  }
}
