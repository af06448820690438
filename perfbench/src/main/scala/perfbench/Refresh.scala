package perfbench

import graft.domain._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.{ChronoUnit, TemporalAdjusters}

/** A 13-week spine: weekly snapshots for the Mondays `start` .. `end`; the
  * stock index counts the 5th to 8th week, as the registry's regional
  * indicator does for its own spine.
  */
final case class Spine(start: LocalDate) {
  val end: LocalDate = start.plusWeeks(12)
  val stockFrom: LocalDate = start.plusWeeks(4)
  val stockTo: LocalDate = start.plusWeeks(7)
}

object Spine {
  /** The spine the registry's `dom_*` rows use. */
  val registry: Spine = Spine(LocalDate.parse("1996-03-04"))

  /** Every spine whose 6-week windows all lie inside the ads' dates. */
  def all(dates: (LocalDate, LocalDate)): Seq[Spine] = {
    val first = dates._1.plusWeeks(6)
      .`with`(TemporalAdjusters.nextOrSame(DayOfWeek.MONDAY))
    val last = dates._2.minusWeeks(12)
    (0L to ChronoUnit.WEEKS.between(first, last)).map(w => Spine(first.plusWeeks(w)))
  }

  /** One of `all`, drawn uniformly. */
  def seeded(rng: scala.util.Random, dates: (LocalDate, LocalDate)): Spine = {
    val spines = all(dates)
    spines(rng.nextInt(spines.size))
  }
}

/** What one refresh leaves in its cache generation. */
final case class Refreshed(salaries: DataFrame, components: DataFrame,
    split: DataFrame, features: DataFrame, weekly: DataFrame,
    published: Map[String, DataFrame], publishDir: String)

/** The weekly refresh: ingest → enrich → dedup → features → weekly
  * snapshots → indicators → publish, each stage a public call into the
  * engine whose result lands in a SharedCache entry under `root`.
  */
final class Refresh(ctx: Ctx) {
  import ctx.tracer

  /** `SharedCache.materialiseWith` in a span; the builder runs, and so
    * records a child span, only when the entry was not already complete.
    */
  def entry(root: String, name: String, key: String)
      (build: => DataFrame): DataFrame =
    tracer.action(s"cache.$name") {
      SharedCache.materialiseWith(ctx.spark, root, name, key) {
        tracer.build(s"build.$name")(build)
      }
    }

  def ads(root: String): DataFrame =
    entry(root, "adsfixture", Refresh.adsKey(ctx))(AdsFixture.ads(ctx.tables))

  def salaries(root: String, ads: DataFrame): DataFrame =
    entry(root, "salaries", s"${ctx.data}|salaries|v1") {
      Salaries.extractSalary(ads).select("id", "min_salary", "max_salary",
        "min_annualised_salary", "max_annualised_salary", "rate")
    }

  def components(root: String): DataFrame =
    entry(root, "dupcomps", s"${ctx.data}|dupcomps|v1") {
      DedupPipeline.duplicateSubgraphs(AdsFixture.links(ctx.tables))
    }

  def split(root: String, comps: DataFrame, ads: DataFrame): DataFrame =
    entry(root, "splitcomps", s"${ctx.data}|splitcomps|v1") {
      DedupPipeline.subgraphsByLocation(comps, ads)
    }

  def locations(root: String): DataFrame =
    entry(root, "adsloc", s"${ctx.data}|ads-location-dim|v1") {
      val t = ctx.tables
      AdsFixture.locationLinks(t)
        .join(broadcast(AdsFixture.locations(t)),
          col("location_id") === col("ipn_18_code"), "left_outer")
        .select(col("job_id"), col("nuts_2_code"), col("nuts_2_name"))
        .distinct()
    }

  def weekly(root: String, spine: Spine, ads: DataFrame,
      split: DataFrame): DataFrame =
    entry(root, "weeklyads",
        s"${ctx.data}|weekly|${spine.start}|${spine.end}|v1") {
      Getters.weeklyAds(ctx.spark, ads, AdsFixture.links(ctx.tables),
        spine.start, spine.end, precomputedGraphs = Some(split))
    }

  def run(root: String, spine: Spine, version: String): Refreshed = {
    val t = ctx.tables
    val adsDf = tracer.span("ingest")(ads(root))
    val sal = tracer.span("enrich.salaries")(salaries(root, adsDf))
    val comps = tracer.span("dedup.components")(components(root))
    val splitDf = tracer.span("dedup.split")(split(root, comps, adsDf))
    val (loc, feats) = tracer.span("getters.features") {
      val loc = locations(root)
      loc -> entry(root, "features", s"${ctx.data}|features|v1") {
        Refresh.featureColumns(Getters.withFeatures(adsDf,
          sal.select("id", "min_annualised_salary", "max_annualised_salary",
            "rate"),
          AdsFixture.locationLinks(t), AdsFixture.locations(t),
          AdsFixture.socLinks(t), AdsFixture.socs(t),
          AdsFixture.skillLinks(t), precomputedLoc = Some(loc)))
      }
    }
    val weeklyDf = tracer.span("getters.weekly") {
      weekly(root, spine, adsDf, splitDf)
    }
    val indicators = tracer.span("indicators") {
      Refresh.indicators(ctx, adsDf, sal, loc, weeklyDf, spine)
    }
    val publishDir = s"$root/published"
    tracer.span("publisher") {
      indicators.foreach { case (title, df) =>
        Publisher.saveData(df, publishDir, title, version)
      }
    }
    Refreshed(sal, comps, splitDf, feats, weeklyDf, indicators.toMap,
      publishDir)
  }

  /** Deletes the generation's ads entry, materialises it again under the
    * same key and reads it back: the read a consumer makes after an entry
    * is rebuilt. Throws when the reader it gets is stale.
    */
  def evictReread(root: String): Long = {
    def ads = SharedCache.materialiseWith(ctx.spark, root, "adsfixture",
      Refresh.adsKey(ctx))(AdsFixture.ads(ctx.tables))
    val dir = new Path(ads.inputFiles.head).getParent
    dir.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      .delete(dir, true)
    ads.count()
  }
}

object Refresh {
  def adsKey(ctx: Ctx): String = s"${ctx.data}|ads-fixture-view|v1"

  /** Share of traced `entry` calls whose entry was already complete. */
  def hitRatio(tr: Tracer): Double = {
    val calls = tr.spans.filter(s => s.kind == "action" && s.name.startsWith("cache."))
    val misses = calls.count(s => tr.spans.exists(b => b.parent == s.id && b.kind == "build"))
    if (calls.isEmpty) 0.0 else (calls.size - misses).toDouble / calls.size
  }

  /** The published indicator tables, in publishing order. */
  def indicators(ctx: Ctx, ads: DataFrame, sal: DataFrame, loc: DataFrame,
      weekly: DataFrame, spine: Spine): Seq[(String, DataFrame)] = {
    val salaries = sal.select("id", "min_annualised_salary",
      "max_annualised_salary")
    val weeklyStd = Indicators.standardiseLocation(
      weekly.select("week_date", "id")
        .join(loc, col("id") === col("job_id"), "left_outer").drop("job_id"))
    val locIndex = Indicators.stockIndexByCode(
      weeklyStd.filter(col("week_date").between(spine.stockFrom.toString,
        spine.stockTo.toString)), "nuts_2_code")
    val adsStd = Indicators.standardiseLocation(ads.select("id")
      .join(loc, col("id") === col("job_id"), "left_outer").drop("job_id"))
    val skills = adsStd
      .join(AdsFixture.skillLinks(ctx.tables), col("id") === col("job_id"))
      .drop("job_id")
    Seq(
      "weekly_stock" -> Indicators.weeklyStock(weekly, indexValue = 250.0),
      "weekly_salary_spread" -> Indicators.weeklySalarySpread(
        weekly.select("week_date", "id").join(salaries, "id")),
      "weekly_loc_vacancies" -> Indicators.weeklyLocVacancies(weeklyStd,
        locIndex),
      "jobs_by_location" -> Indicators.jobsByLocation(adsStd),
      "aggregate_skills" -> Indicators.aggregateSkills(skills, "nuts_2_code",
        "nuts_2_name"),
    )
  }

  /** The feature table as the registry's `dom_features` row projects it:
    * nested skills flattened to one string so it can be hashed.
    */
  def featureColumns(df: DataFrame): DataFrame =
    df.select(col("id"), col("min_annualised_salary"),
      col("max_annualised_salary"), col("rate"),
      col("nuts_2_code"), col("nuts_2_name"),
      col("soc_code"), col("soc_title"),
      concat_ws("|", transform(col("skills"), x =>
        concat_ws(":", x.getField("surface_form"),
          x.getField("preferred_label"),
          x.getField("cluster_0").cast("string")))).as("skills_str"))
}
