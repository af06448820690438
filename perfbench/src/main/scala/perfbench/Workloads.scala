package perfbench

import graft.Registry
import graft.domain._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.io.File
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable
import scala.util.Try

/** Registry oracles re-aimed at other dates or rows: each rewrite
  * requires the text it replaces, so an oracle that changes shape fails
  * loudly instead of checking the wrong thing.
  */
object Oracles {
  def of(name: String): String = Registry.byName(name).oracle.get

  /** Replaces every `from` of `subs` in one pass over `sql`, so text one
    * pair puts in is never rewritten by another pair.
    */
  def replace(sql: String, subs: (String, String)*): String = {
    subs.foreach { case (from, _) =>
      require(sql.contains(from), s"oracle text lacks: $from")
    }
    val to = subs.toMap
    Pattern.compile(subs.map(_._1).sortBy(-_.length).map(Pattern.quote)
      .mkString("|")).matcher(sql)
      .replaceAll(m => Matcher.quoteReplacement(to(m.group())))
  }

  private val DateLit = "\\d{4}-\\d{2}-\\d{2}".r

  /** `replace` for dates, then a check that the date literals of the
    * result are exactly those of `sql` with each moved date moved.
    */
  def redate(sql: String, moves: (LocalDate, LocalDate)*): String = {
    val subs = moves.map { case (a, b) => a.toString -> b.toString }
    val out = replace(sql, subs: _*)
    val to = subs.toMap
    val want = DateLit.findAllIn(sql).map(d => to.getOrElse(d, d)).toList
    require(DateLit.findAllIn(out).toList == want,
      s"rewrite moved other dates: ${subs.mkString(", ")}")
    out
  }

  /** A registry weekly oracle over `spine` instead of the registry's. */
  def respine(name: String, spine: Spine): String = {
    val r = Spine.registry
    val sql = of(name)
    redate(sql, Seq(r.start -> spine.start, r.end -> spine.end) ++
      (if (sql.contains(r.stockFrom.toString))
        Seq(r.stockFrom -> spine.stockFrom, r.stockTo -> spine.stockTo)
      else Nil): _*)
  }

  /** Restricts the `ads` CTE to ads created in [from, to]. */
  def adsBetween(sql: String, from: LocalDate, to: LocalDate): String = {
    val body = AdsFixture.SQL("ads")
    replace(sql, body -> (s"SELECT * FROM (\n$body)\nWHERE created BETWEEN " +
      s"TIMESTAMP '$from 00:00:00' AND TIMESTAMP '$to 00:00:00'"))
  }

  private val dedupCtes = AdsFixture.withCtes("ads", "lnk_ranked", "links",
    "banded", "comps")

  /** The location-split components query of `dom_subgraphs_by_location`. */
  lazy val splitSql: String = {
    val sql = of("dom_subgraphs_by_location")
    require(sql.startsWith(dedupCtes))
    sql.stripPrefix(dedupCtes)
  }

  def jobAds(from: LocalDate, to: LocalDate, dedup: Boolean,
      split: Boolean): String =
    if (!dedup)
      AdsFixture.withCtes("ads") +
        s"""SELECT id, created, job_location_raw, raw_salary_unit FROM ads
           |WHERE created >= TIMESTAMP '$from 00:00:00'
           |  AND created <= TIMESTAMP '$to 00:00:00'""".stripMargin
    else {
      val sql = redate(of("dom_get_job_ads"),
        LocalDate.parse("1997-01-01") -> from,
        LocalDate.parse("1997-03-31") -> to)
      if (!split) sql
      else {
        require(sql.startsWith(dedupCtes))
        dedupCtes + s", splitcomps AS ($splitSql)" +
          replace(sql.stripPrefix(dedupCtes),
            "FROM comps c" -> "FROM splitcomps c")
      }
    }
}

/** `refresh_cold`: each round is one full refresh into a new, empty cache
  * generation, then the untimed `evict_reread` operation on it.
  */
final class RefreshCold(ctx: Ctx) extends Workload(ctx) {
  private val refresh = new Refresh(ctx)
  private var gen = 0
  private var registryRun: Refreshed = _
  private var seeded: Option[(Refreshed, Spine)] = None
  // (entries, files, bytes) each refresh wrote to its generation, and the
  // bytes it published
  private val written = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]

  // the first timed refresh still runs on a JVM that is getting faster;
  // the median of three is steadier than the mean of two
  override val minRounds = 3

  private def root(): String = { gen += 1; s"${ctx.work}/cache/gen-$gen" }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  /** One warm-up refresh, at the registry's own parameters and kept for
    * the checks: it runs on a cold JVM, about twice as long as later ones.
    */
  def setUp(): Unit = {
    ctx.tables.orders.schema
    registryRun = refresh.run(root(), Spine.registry, "registry")
  }

  def round(r: Int): Unit = {
    val spine = Spine.seeded(ctx.rng, ctx.dates)
    val dir = root()
    val out = timed("refresh")(refresh.run(dir, spine, s"v$r"))
    val entries = Option(new File(dir).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName != "published")
    val data = entries.flatMap(files).filter(_.getName.startsWith("part-"))
    written += ((entries.size, data.size, data.map(_.length).sum,
      files(new File(out.publishDir)).map(_.length).sum))
    if (seeded.isEmpty) seeded = Some(out -> spine)
    untimed("evict_reread")(refresh.evictReread(dir))
  }

  def check(): Unit = {
    val c = ctx.checks
    def outputs(o: Refreshed): Seq[(String, DataFrame)] = Seq(
      "dom_salary_extract" -> o.salaries,
      "dom_dup_subgraphs" -> o.components,
      "dom_subgraphs_by_location" -> o.split,
      "dom_features" -> o.features,
      "dom_weekly_ads" -> o.weekly.select("week_date", "id"),
      "dom_weekly_stock" -> o.published("weekly_stock"),
      "dom_weekly_salary_spread" -> o.published("weekly_salary_spread"),
      "dom_weekly_loc_vacancies" -> o.published("weekly_loc_vacancies"),
      "dom_jobs_by_location" -> o.published("jobs_by_location"),
      "dom_aggregate_skills" -> o.published("aggregate_skills"),
      // read back with the published frame's schema: an empty table
      // publishes JSON files with no rows to infer one from
      "dom_publish_rounded" -> ctx.spark.read
        .schema(Publisher.rounded(o.published("weekly_stock")).schema)
        .json(s"${o.publishDir}/latest/weekly_stock.json"))
    outputs(registryRun).foreach { case (name, df) =>
      c.oracle(s"registry.$name", df, Oracles.of(name))
    }
    val (o, spine) = seeded.get
    val moved = outputs(o).filter { case (name, _) =>
      name.contains("weekly") || name == "dom_publish_rounded"
    }
    moved.foreach { case (name, df) =>
      c.oracle(s"seeded.$name", df, Oracles.respine(name, spine))
    }
    val spines = Spine.all(ctx.dates)
    c.property(s"oracles re-aimed at each of ${spines.size} seedable spines",
      for {
        sp <- spines
        (name, _) <- moved
        err <- Try(Oracles.respine(name, sp)).failed.toOption
      } yield s"${sp.start} $name: ${err.getMessage}")
    val inBand = AdsFixture.links(ctx.tables).filter(col("weight").between(
      DedupPipeline.MinDupeWeight, DedupPipeline.MaxDupeWeight))
      .collect().map(r => (r.getAs[Number]("first_id").longValue,
        r.getAs[Number]("second_id").longValue))
    val labels = o.components.collect().map(r =>
      (r.getAs[Number]("id").longValue, r.getAs[Number]("component").longValue))
    val label = labels.toMap
    c.property("components: one label across each in-band edge", inBand
      .filterNot { case (a, b) => label.contains(a) && label.get(a) == label.get(b) }
      .map { case (a, b) => s"$a-$b" })
    c.property("components: label is the least member id", labels.toSeq
      .groupBy(_._2).collect { case (l, ms) if ms.map(_._1).min != l => s"$l" })
  }

  def layers(traced: Seq[UnitRec]): Map[String, Double] = {
    val n = traced.size.toDouble
    val tr = ctx.tracer
    def total(name: String) = tr.spans.filter(_.name == name).map(_.seconds).sum / n
    val builds = tr.spans.filter(s => s.kind == "action" &&
      tr.spans.exists(b => b.parent == s.id && b.kind == "build"))
    val cc = tr.spans.filter(_.name == "dedup.components")
      .map(s => ctx.ledger.window(s.startMs, s.startMs + (s.seconds * 1e3).toLong))
    def mean(f: ((Int, Int, Long, Long)) => Double) = written.map(f).sum / written.size
    Map(
      "enrich.salaries_s" -> total("enrich.salaries"),
      "dedup.components_s" -> total("dedup.components"),
      "dedup.components_jobs" -> cc.map(_.jobs).sum / n,
      "dedup.split_s" -> total("dedup.split"),
      "getters.features_s" -> total("getters.features"),
      "getters.weekly_s" -> total("getters.weekly"),
      "indicators.s" -> total("indicators"),
      "publisher.s" -> total("publisher"),
      "publisher.bytes" -> mean(_._4.toDouble),
      "cache.build_s" -> builds.map(_.seconds).sum / n,
      "cache.entries_written" -> mean(_._1.toDouble),
      "cache.files_written" -> mean(_._2.toDouble),
      "cache.bytes_written" -> mean(_._3.toDouble),
      "cache.hit_ratio" -> Refresh.hitRatio(tr),
      "refresh.uncovered_s" ->
        tr.spans.filter(_.kind == "unit").map(tr.selfSeconds).sum / n,
    )
  }
}

/** One analyst request: a kind and its seeded dates. */
final case class Req(kind: String, from: LocalDate, to: LocalDate,
    dedup: Boolean = false, split: Boolean = false)

/** `api_reads_warm`: requests served from a cache that set-up built. */
final class ApiReads(ctx: Ctx) extends Workload(ctx) {
  import ctx.tracer
  private val refresh = new Refresh(ctx)
  private val root = s"${ctx.work}/cache/reads"
  private val spine = Spine.registry

  private def range(days: Int): (LocalDate, LocalDate) = {
    val (first, last) = ctx.dates
    val from = first.plusDays(ctx.rng.nextInt(
      (ChronoUnit.DAYS.between(first, last) - days + 2).toInt).toLong)
    (from, from.plusDays(days.toLong - 1))
  }

  /** Weeks `first` .. `first` + 3 of the cached spine. */
  private def weeks(): (LocalDate, LocalDate) = {
    val from = spine.start.plusWeeks(ctx.rng.nextInt(10).toLong)
    (from, from.plusWeeks(3))
  }

  private def round(): Seq[Req] = ctx.rng.shuffle(Seq(
    { val (f, t) = range(56); Req("get_job_ads", f, t) },
    { val (f, t) = range(56); Req("get_job_ads", f, t, dedup = true) },
    { val (f, t) = range(56); Req("get_job_ads", f, t, dedup = true, split = true) },
    { val (f, t) = range(56); Req("snapshot", f, t) },
    { val (f, t) = range(28); Req("features", f, t) },
    { val (f, t) = weeks(); Req("weekly", f, t) },
    { val (f, t) = range(56); Req("location", f, t) },
  ))

  /** Rounds of distinct requests; the loop cycles through them. */
  private val pool: Seq[Seq[Req]] = Seq.fill(ApiReads.PoolRounds)(round())
  private val seen = mutable.LinkedHashMap.empty[Req, Seq[(Array[Row], DataFrame)]]

  private def frames(q: Req): Seq[DataFrame] = {
    val t = ctx.tables
    val ads = refresh.ads(root)
    val (from, to) = (q.from.toString, q.to.toString)
    q.kind match {
      case "get_job_ads" =>
        val comps = refresh.components(root)
        Seq(tracer.build("getters.get_job_ads") {
          Getters.getJobAds(ads, AdsFixture.links(t), Some(from), Some(to),
            returnDescription = false, deduplicate = q.dedup,
            splitDupesByLocation = q.split, precomputedGraphs = Some(comps))
            .select("id", "created", "job_location_raw", "raw_salary_unit")
        })
      case "snapshot" =>
        val split = refresh.split(root, refresh.components(root), ads)
        Seq(tracer.build("dedup.snapshot_ads") {
          DedupPipeline.snapshotAds(ads, AdsFixture.links(t), from, to,
            precomputedGraphs = Some(split))
            .select("id", "created", "job_location_raw")
        })
      case "features" =>
        val sal = refresh.salaries(root, ads)
        val loc = refresh.locations(root)
        Seq(tracer.build("getters.features") {
          Refresh.featureColumns(Getters.withFeatures(
            ads.filter(col("created").between(from, to)),
            sal.select("id", "min_annualised_salary", "max_annualised_salary",
              "rate"),
            AdsFixture.locationLinks(t), AdsFixture.locations(t),
            AdsFixture.socLinks(t), AdsFixture.socs(t),
            AdsFixture.skillLinks(t), precomputedLoc = Some(loc)))
        })
      case "weekly" =>
        val split = refresh.split(root, refresh.components(root), ads)
        val weekly = refresh.weekly(root, spine, ads, split)
          .filter(col("week_date").between(from, to))
        val sal = refresh.salaries(root, ads)
          .select("id", "min_annualised_salary", "max_annualised_salary")
        tracer.build("indicators.weekly") {
          Seq(Indicators.weeklyStock(weekly, indexValue = 250.0),
            Indicators.weeklySalarySpread(
              weekly.select("week_date", "id").join(sal, "id")))
        }
      case "location" =>
        val loc = refresh.locations(root)
        tracer.build("indicators.location") {
          val std = Indicators.standardiseLocation(
            ads.filter(col("created").between(from, to)).select("id")
              .join(loc, col("id") === col("job_id"), "left_outer")
              .drop("job_id"))
          Seq(Indicators.jobsByLocation(std),
            Indicators.aggregateSkills(std.join(AdsFixture.skillLinks(t),
              col("id") === col("job_id")).drop("job_id"),
              "nuts_2_code", "nuts_2_name"))
        }
    }
  }

  private def serve(q: Req): Unit = {
    val out = timed(s"read.${q.kind}") {
      frames(q).map(df => tracer.action("collect")(df.collect()) -> df)
    }
    seen.get(q) match {
      case None => seen(q) = out
      case Some(first) => ctx.checks.property(s"repeat ${q.kind} rows",
        if (first.map(_._1.length) == out.map(_._1.length)) Nil
        else Seq(s"$q: ${out.map(_._1.length)} rows, first ${first.map(_._1.length)}"))
    }
  }

  /** Builds the entries requests read (no features table, no publishing),
    * then serves every pooled request once.
    */
  def setUp(): Unit = {
    val ads = refresh.ads(root)
    val split = refresh.split(root, refresh.components(root), ads)
    refresh.salaries(root, ads)
    refresh.locations(root)
    refresh.weekly(root, spine, ads, split)
    pool.flatten.foreach(frames(_).foreach(_.collect()))
  }

  def round(r: Int): Unit = pool(r % pool.size).foreach(serve)

  def check(): Unit = seen.zipWithIndex.foreach { case ((q, out), i) =>
    val sqls: Seq[String] = q.kind match {
      case "get_job_ads" => Seq(Oracles.jobAds(q.from, q.to, q.dedup, q.split))
      case "snapshot" => Seq(Oracles.redate(Oracles.of("dom_snapshot_ads"),
        LocalDate.parse("1996-03-01") -> q.from,
        LocalDate.parse("1996-04-30") -> q.to))
      case "features" => Seq(Oracles.adsBetween(Oracles.of("dom_features"),
        q.from, q.to))
      case "weekly" =>
        val inWeeks = s"BETWEEN DATE '${q.from}' AND DATE '${q.to}'"
        Seq(Oracles.replace(Oracles.of("dom_weekly_stock"),
            "FROM weekly GROUP BY week_date" ->
              s"FROM weekly WHERE week_date $inWeeks GROUP BY week_date"),
          Oracles.replace(Oracles.of("dom_weekly_salary_spread"),
            "GROUP BY w.week_date" ->
              s"WHERE w.week_date $inWeeks GROUP BY w.week_date"))
      case "location" => Seq("dom_jobs_by_location", "dom_aggregate_skills")
        .map(n => Oracles.adsBetween(Oracles.of(n), q.from, q.to))
    }
    out.zip(sqls).zipWithIndex.foreach { case (((rows, df), sql), j) =>
      ctx.checks.rows(f"read.$i%02d.${q.kind}.$j", rows, df.schema, sql)
    }
  }

  def layers(traced: Seq[UnitRec]): Map[String, Double] = {
    val byKind = traced.groupBy(_.kind)
    def ms(kind: String) =
      byKind.get(s"read.$kind").fold(0.0)(us => Main.median(us.map(_.seconds)) * 1e3)
    val input = traced.map(u => ctx.ledger.window(u.startMs, u.endMs).inputBytes).sum
    Map(
      "read.get_job_ads_ms" -> ms("get_job_ads"),
      "read.snapshot_ms" -> ms("snapshot"),
      "read.features_ms" -> ms("features"),
      "read.weekly_ms" -> ms("weekly"),
      "read.location_ms" -> ms("location"),
      "read.p95_ms" -> Main.quantile(traced.map(_.seconds), 0.95) * 1e3,
      "cache.hit_ratio" -> Refresh.hitRatio(ctx.tracer),
      "cache.bytes_read_per_req" -> input.toDouble / traced.size,
    )
  }
}

object ApiReads {
  val PoolRounds = 3
}
