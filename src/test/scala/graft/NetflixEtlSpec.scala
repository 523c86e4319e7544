package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.NetflixEtl
import org.apache.spark.sql.functions._

/** The reference pipeline run end-to-end on the reference's OWN
  * dataset, asserting its own test contract (task.py:248-273):
  * extract = 7,787×12, transformed shows = 7,787×9, star tables
  * non-empty and referentially sound. The cases that read the CSV
  * cancel on a host without it; they run unchanged wherever it is.
  */
class NetflixEtlSpec extends SparkSpec {

  private val CSV = NetflixEtl.referenceCsv

  private def assumeCsv(): Unit =
    assume(Files.isRegularFile(Paths.get(CSV)),
      s"$CSV absent: reference dataset not on this host")

  private lazy val star =
    NetflixEtl.runAndLoad(spark, CSV,
      Files.createTempDirectory("netflix_lake").toString)

  test("extract: 7,787 shows × 12 columns (test_extract, task.py:254)") {
    assumeCsv()
    val shows = NetflixEtl.extract(spark, CSV)
    assert(shows.columns.length == 12)
    assert(shows.count() == 7787)
    // date parse actually fired: date_added is a real date column
    assert(shows.schema("date_added").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(shows.filter(col("date_added").isNotNull).count() > 7000)
  }

  test("transform: shows keep 7,787 rows × 9 columns (test_transform, task.py:259)") {
    assumeCsv()
    assert(star.shows.columns.length == 9)
    assert(star.shows.count() == 7787)
  }

  test("personnel / movie_crew / listings are non-empty and consistent") {
    assumeCsv()
    import spark.implicits._
    val nPersonnel = star.personnel.count()
    assert(nPersonnel > 0)
    assert(star.movieCrew.count() > 0)
    assert(star.listings.count() > 0)
    // surrogate ids are dense 1..N over distinct names
    val ids = star.personnel.agg(
      min($"id"), max($"id"), countDistinct($"id"), countDistinct($"name"))
      .collect()(0)
    assert(ids.getLong(0) == 1L)
    assert(ids.getLong(1) == nPersonnel)
    assert(ids.getLong(2) == nPersonnel && ids.getLong(3) == nPersonnel)
    // every crew row resolves to a personnel id and a real show
    val orphanCrew = star.movieCrew.join(star.personnel,
      star.movieCrew("personnel_id") === star.personnel("id"), "left_anti").count()
    assert(orphanCrew == 0)
    val orphanShows = star.movieCrew.join(star.shows, Seq("show_id"), "left_anti").count()
    assert(orphanShows == 0)
  }

  test("gender enrichment matches the reference's category mapping shape") {
    assumeCsv()
    import spark.implicits._
    val genders = star.personnel.select($"gender").distinct()
      .collect().map(_.getString(0)).toSet
    assert(genders.subsetOf(Set("male", "female", "unknown")))
    assert(genders.contains("male") && genders.contains("female"))
    // the dictionary actually fires on real names: known first names
    // classify, and a clear majority of personnel matched something
    val byName = star.personnel
      .select($"first_name", $"gender").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName.get("David").contains("male"))
    assert(byName.get("Maria").contains("female"))
    // hit-rate floor on the reference's own cast/director names: the
    // round-8 tier-3 dictionary + accent folding classifies ~62% of
    // the 36,924 distinct personnel (19% → 42% → 62% across rounds).
    // `unknown` undercounts hits (andy-category names resolve to
    // unknown BY DESIGN, and East-Asian surname-first tokens are
    // deliberately unclassified), so this is a conservative floor
    // against dictionary regressions. Deterministic: fixed CSV ×
    // fixed dictionary, no variance band needed.
    val total = star.personnel.count()
    val matched = star.personnel.filter($"gender" =!= "unknown").count()
    assert(matched.toDouble / total >= 0.60,
      s"dictionary hit rate ${matched}/$total below the 60% floor")
  }

  test("dictionary category mapping collapses exactly like task.py:43-51") {
    import spark.implicits._
    val probe = Seq("Chris Pine", "Andrea Rossi", "Robin Banks",
      "James Dean", "Mary Sue", "Zzyzx Nobody").toDF("name")
    val got = graft.functions.GenderDict.enrich(probe, $"name",
        graft.functions.GenderDict.dictDf(spark))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "Chris Pine" -> "male",        // mostly_male → male
      "Andrea Rossi" -> "female",    // mostly_female → female
      "Robin Banks" -> "unknown",    // andy → unknown
      "James Dean" -> "male",
      "Mary Sue" -> "female",
      "Zzyzx Nobody" -> "unknown"))  // no dictionary hit
  }
}
