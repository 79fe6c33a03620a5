package perfbench

import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Analytics, Caches, Export, Merge, Quality, Standardize, TextOps}
import graft.sources.{DedupIndex, Generations, Sinks}

/** What one run measured. Timings of an operation whose output check
  * failed are dropped: a failed check counts as a failed operation,
  * never as a timing. */
final class Rec {
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def time(k: String, s: Double): Unit = times.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += s
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def ts(k: String): Seq[Double] = times.get(k).map(_.toSeq).getOrElse(Nil)
  def c(k: String): Double = counts.getOrElse(k, 0.0)
}

object Stat {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A seeded piece of benchmark state with the steps that time calls into
  * the engine. Timers cover only those calls; generating inputs and
  * checking outputs happen outside them (inside `gen`/`check` spans when
  * traced). `rep` namespaces tables and directories, so several set-ups
  * coexist in one session. */
abstract class Part(val spark: SparkSession, val seed: Long, val work: String,
                    val rep: Int, val tiny: Boolean) {
  def name: String
  def setup(): Unit
  def teardown(): Unit = ()
  def properties: String
  /** This part's headline figures, printed by name. */
  def named(rec: Rec): Seq[(String, Double, String)]
  def perLayer(rec: Rec, tr: Tracer): Map[String, Double]

  /** bucket count of every bucketed table: the local parallelism */
  protected val nb: Int = spark.sparkContext.defaultParallelism
  protected def dir(s: String): String = s"$work/data/rep$rep/$s"

  protected def span[A](tr: Option[Tracer], n: String)(body: => A): A =
    tr.fold(body)(_.span(n)(body))
  protected def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
  }
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  /** Run the checks; record their failures; true when all hold. The
    * untimed miniature only warms code paths and skips them. */
  protected def check(rec: Rec, tr: Option[Tracer])(cs: => Seq[(Boolean, String)]): Boolean = tiny || {
    val bad = span(tr, "check")(cs).filterNot(_._1).map(_._2)
    rec.failures ++= bad.map(b => s"$name: $b")
    bad.isEmpty
  }
}

/** A workload: set-up, then one closed-loop operation at a time. */
abstract class Workload(spark: SparkSession, seed: Long, work: String, rep: Int, tiny: Boolean)
    extends Part(spark, seed, work, rep, tiny) {
  def op(i: Int, rec: Rec, tr: Option[Tracer]): Unit
  /** Whether the loop may stop after `done` operations. */
  def canStop(done: Int): Boolean
  /** Operations the untimed miniature runs to touch every code path. */
  def warmOps: Int
  /** Work units (items, requests) per second of operation time. */
  def throughput(rec: Rec): Double
  /** Latency samples (s) of the workload's operations. */
  def latencies(rec: Rec): Seq[Double]
}

// ------------------------------------------------------------------ etl_monthly

final class EtlMonthly(spark: SparkSession, seed: Long, work: String, rep: Int, tiny: Boolean)
    extends Workload(spark, seed, work, rep, tiny) {
  import spark.implicits._
  val name = "etl_monthly"
  val gen = if (tiny) new EtlGen(seed, 200, 100)
    else new EtlGen(seed, baseItems = EtlGen.CrawlItems, batchItems = EtlGen.CrawlItems / 2)
  /** the corpus extension's standing dedup index, fed every batch */
  val index = new DedupIndexPart(spark, seed, work, rep, tiny)
  private var table = ""
  private var k = 0
  /** (REID month bucket, source) → max index assigned so far */
  private val maxIdx = mutable.HashMap.empty[(String, String), Int]
  private val cols = Merge.listingColumns.map(col)
  /** passes over the noop-sink prefixes of a traced batch */
  private val ProbePasses = 2

  private def bucketOf(asOf: LocalDate): String =
    asOf.withDayOfMonth(1).minusMonths(1)
      .format(java.time.format.DateTimeFormatter.ofPattern("yy_MM"))

  private def land(b: EtlBatch): String = {
    val p = dir(s"raw/b$k")
    b.items.toDS().write.mode("overwrite").parquet(p)
    p
  }

  /** Month 0: the base crawl merged into an empty listing table. */
  def setup(): Unit = {
    val b = gen.base
    val raw = spark.read.parquet(land(b))
    val std = Standardize(raw, b.asOf)
    val empty = std.select(cols: _*).limit(0)
    val next = s"listing_r${rep}_0"
    Sinks.writeBucketed(Merge.merge(empty, std, b.asOf).select(cols: _*), next, Seq("url"), nb)
    table = next
    record(b)
    index.setup()
  }

  private def record(b: EtlBatch): Unit = {
    val bucket = bucketOf(b.asOf)
    b.newUrls.groupBy(gen.props(_).source).foreach { case (s, us) =>
      maxIdx((bucket, s)) = maxIdx.getOrElse((bucket, s), 0) + us.size
    }
  }

  def op(i: Int, rec: Rec, tr: Option[Tracer]): Unit = {
    k += 1
    val (b, rawPath) = span(tr, "gen") { val b = gen.next(); (b, land(b)) }
    val before = maxIdx.clone()
    val next = s"listing_r${rep}_$k"
    val tagPath = dir(s"tags/b$k")
    // the spans name the driver-side construction of each lazy frame too,
    // so the operation's wall is attributed to a layer
    val ((raw, std, merged), secs) = timed(span(tr, "op") {
      val raw = span(tr, "driver.raw_read")(spark.read.parquet(rawPath))
      val std = span(tr, "standardize.plan")(Standardize(raw, b.asOf))
      val tags = span(tr, "quality.plan")(Quality.explodeTags(std, "url"))
      val merged = span(tr, "merge.plan")(
        Merge.merge(spark.table(table), std, b.asOf).select(cols: _*))
      rec.time("sinks.listing_write", timed(span(tr, "sinks.listing_write")(
        Sinks.writeBucketed(merged, next, Seq("url"), nb)))._2)
      span(tr, "sinks.tag_write")(Sinks.metricsAppend(tags, tagPath))
      (raw, std, merged)
    })
    tr.foreach { _ =>
      // per-layer self times, in an operation of their own after the real
      // one: consecutive prefixes materialized to the noop sink, each
      // layer's self time the difference; min of `ProbePasses` passes,
      // since a cheap layer's difference is within run noise
      span(tr, "probe") {
        val prefixes = Seq("probe.raw" -> raw, "probe.standardize" -> std,
          "probe.quality" -> Quality.withIssues(std), "probe.merge" -> merged)
        val passes = Seq.fill(ProbePasses)(prefixes.map { case (n, df) => timed(span(tr, n)(noop(df)))._2 })
        prefixes.indices.foreach(j => rec.time(prefixes(j)._1, passes.map(_(j)).min))
      }
    }
    record(b)
    val ok = check(rec, tr) {
      val l = spark.table(next)
      val agg = l.agg(count(lit(1)), countDistinct(col("url"))).head()
      val tabs = l.groupBy("tab").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tagCounts = spark.read.parquet(tagPath).groupBy("name").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expectRows = gen.props.size.toLong
      // new urls: unique ids continuing each (bucket, source) sequence
      val bucket = bucketOf(b.asOf)
      val got = l.filter(col("created_at") === lit(java.sql.Timestamp.valueOf(b.asOf.atStartOfDay())))
        .select("url", "source", "reid_id").as[(String, String, String)].collect()
      val expectIds = b.newUrls.groupBy(gen.props(_).source).toSeq.flatMap { case (s, us) =>
        us.sorted.zipWithIndex.map { case (u, j) =>
          u -> f"REID_${bucket}_${s}_${before.getOrElse((bucket, s), 0) + j + 1}%03d"
        }
      }.toMap
      Seq(
        (agg.getLong(0) == agg.getLong(1), s"listing not url-unique (${agg.getLong(0)} rows, ${agg.getLong(1)} urls)"),
        (agg.getLong(0) == expectRows, s"|listing| ${agg.getLong(0)} != |previous ∪ crawled| $expectRows"),
        (got.map(g => g._1 -> g._3).toMap == expectIds, s"new-url reid_ids wrong (${got.length} new rows, ${expectIds.size} expected)"),
        (got.map(_._3).distinct.length == got.length, "new reid_ids not unique"),
        (tabs == gen.tabCounts, s"tab counts $tabs != planted ${gen.tabCounts}"),
        (tagCounts == b.tagCounts, s"tag counts $tagCounts != planted ${b.tagCounts}"))
    }
    Sinks.purgeTable(spark, table)
    table = next
    // the month's document increment into the standing dedup index
    val indexSecs = index.ingest(rec, tr)
    if (ok) {
      rec.time("etl_batch", secs)
      rec.add("items", b.items.size)
      rec.add("listing_rows", gen.props.size)
      indexSecs.foreach(x => rec.time("batch", secs + x))
    }
  }

  override def teardown(): Unit = Sinks.purgeTable(spark, table)

  /** two batches at least, and the run ends on the index's compaction */
  def canStop(done: Int): Boolean = done >= 2 && index.cycleDone
  /** a full compaction cycle, so the miniature compacts too */
  def warmOps: Int = index.Cycle

  def properties: String = gen.describe + "; dedup index: " + index.properties
  /** crawl items landed per second of the monthly cycle: ETL, the index
    * increment and the index's compactions */
  def throughput(rec: Rec): Double =
    rec.c("items") / (rec.ts("batch").sum + rec.ts("compact").sum)
  def latencies(rec: Rec): Seq[Double] = rec.ts("batch")
  def named(rec: Rec): Seq[(String, Double, String)] =
    Seq(("etl_items_per_s", rec.c("items") / rec.ts("etl_batch").sum, "items/s")) ++
      index.named(rec)

  def perLayer(rec: Rec, tr: Tracer): Map[String, Double] = {
    def self(a: String, b: String) = Stat.median(rec.ts(a).zip(rec.ts(b)).map { case (x, y) => x - y })
    val write = tr.sum("sinks.listing_write")
    val merges = rec.ts("probe.merge").size * ProbePasses
    Map(
      "standardize.self_s" -> self("probe.standardize", "probe.raw"),
      "quality.self_s" -> self("probe.quality", "probe.standardize"),
      "merge.self_s" -> self("probe.merge", "probe.standardize"),
      // the shuffle of one materialization of the merge
      "merge.shuffle_bytes" -> tr.sum("probe.merge").shuffleWriteBytes.toDouble / merges,
      "sinks.listing_write_s" -> self("sinks.listing_write", "probe.merge"),
      "sinks.bytes_per_item" -> write.outputBytes.toDouble / rec.c("listing_rows")) ++
      index.perLayer(rec, tr)
  }
}

// -------------------------------------------------------------- serve_dashboard

final class ServeDashboard(spark: SparkSession, seed: Long, work: String, rep: Int, tiny: Boolean)
    extends Workload(spark, seed, work, rep, tiny) {
  import spark.implicits._
  val name = "serve_dashboard"
  val gen = if (tiny) new ServeGen(seed, 300, 1000, 500)
    // the listing table and the scrape queue hold one full crawl
    else new ServeGen(seed, listings = EtlGen.CrawlItems, queue = EtlGen.CrawlItems, tags = 5000)
  private val reqs = gen.requests(decks = 400)
  private var listings, tags, queue, reports: DataFrame = _
  val Kinds: Seq[String] = gen.Mix.map(_._1)

  def setup(): Unit = {
    gen.listingRows.toDS().write.mode("overwrite").parquet(dir("listings"))
    gen.tagRows.toDS().write.mode("overwrite").parquet(dir("tags"))
    gen.queueRows.toDS().write.mode("overwrite").parquet(dir("queue"))
    gen.reportRows.toDS().write.mode("overwrite").parquet(dir("reports"))
    listings = spark.read.parquet(dir("listings"))
    tags = spark.read.parquet(dir("tags"))
    queue = spark.read.parquet(dir("queue"))
    reports = spark.read.parquet(dir("reports"))
  }

  private def serve(q: Req): Array[Row] = q.kind match {
    case "monthly_counts" => Analytics.monthlyListingCounts(listings).collect()
    case "crawl_report" => Analytics.crawlReport(reports, q.date).collect()
    case "report_totals" => Analytics.reportTotals(Analytics.crawlReport(reports, q.date)).collect()
    case "queue_stats" => Analytics.queueStats(queue).collect()
    case "queue_page" => Analytics.queuePage(queue, q.status, q.domain, None, q.page).collect()
    case "tag_counts" => Analytics.tagCounts(tags, listings.select(col("id"))).collect()
    case "domains" => Analytics.domains(queue).collect()
    case "to_dict_page" =>
      Export.toDict(listings.filter(col("source") === q.source).orderBy("url")
        .offset((q.page - 1) * 50).limit(50)).collect()
  }

  private val deck = gen.Mix.map(_._2).sum
  /** whole decks: every request shape, repeated because a fresh JVM's
    * first ~4 decks run ~1.5x slower than the later ones while the JIT
    * compiles the planner's hot paths */
  def warmOps: Int = 5 * deck
  /** whole decks only, so every run serves the exact mix; at least
    * `MinDecks`, so that ten or more requests lie beyond the p95 */
  private val MinDecks = if (tiny) 1 else 14
  def canStop(done: Int): Boolean = done % deck == 0 && done >= MinDecks * deck

  private def spanName(kind: String) =
    if (kind == "to_dict_page") "export.to_dict_page" else s"analytics.$kind"

  def op(i: Int, rec: Rec, tr: Option[Tracer]): Unit = {
    val q = reqs(i % reqs.size)
    val (rows, secs) = timed(span(tr, "op")(span(tr, spanName(q.kind))(serve(q))))
    val ok = check(rec, tr) {
      q.kind match {
        case "monthly_counts" =>
          Seq((rows.map(_.getLong(1)).sum == gen.reidCount, "monthly counts do not sum to the REID-bearing listings"))
        case "queue_stats" =>
          val r = rows.head
          val got = Map("Available" -> r.getLong(1), "Error" -> r.getLong(2),
            "Delisted" -> r.getLong(3), "Sold" -> r.getLong(4))
          Seq((r.getLong(0) == gen.queue && got.forall { case (s, n) => gen.statusCounts.getOrElse(s, 0L) == n },
            s"queue stats $got != planted ${gen.statusCounts}"))
        case "queue_page" =>
          val ts = rows.map(_.getTimestamp(2).getTime)
          val ids = rows.map(_.getLong(0))
          val ordered = ts.indices.drop(1).forall(j =>
            ts(j - 1) > ts(j) || (ts(j - 1) == ts(j) && ids(j - 1) > ids(j)))
          Seq((rows.length <= 50, s"queue page has ${rows.length} rows"),
            (ordered, "queue page not newest first"),
            (q.domain.forall(d => rows.forall(_.getString(1).contains(d))), "queue page ignores its domain filter"))
        case "tag_counts" =>
          Seq((rows.map(r => r.getString(0) -> r.getLong(1)).toMap == gen.openTagCounts, "tag counts != planted"))
        case "domains" =>
          Seq((rows.map(_.getString(0)).toSeq == gen.domainSet.toSeq.sorted, "domains != planted"))
        case "to_dict_page" => Seq((rows.nonEmpty && rows.length <= 50, s"to_dict page has ${rows.length} rows"))
        case "crawl_report" => Seq((rows.nonEmpty && rows.length <= EtlGen.Sources.size, s"crawl report has ${rows.length} rows"))
        case _ => Seq((rows.length == 1, "report totals is not one row"))
      }
    }
    if (ok) {
      rec.time("request", secs)
      rec.time(s"req.${q.kind}", secs)
      rec.add("rows_returned", rows.length)
    }
  }


  def properties: String = gen.describe
  def throughput(rec: Rec): Double = rec.ts("request").size / rec.ts("request").sum
  def latencies(rec: Rec): Seq[Double] = rec.ts("request")
  def named(rec: Rec): Seq[(String, Double, String)] = {
    val l = rec.ts("request")
    Seq(("serve_p50_ms", Stat.median(l) * 1000, "ms"),
      ("serve_p95_ms", Stat.quantile(l, 0.95) * 1000, "ms"),
      ("serve_p95_samples_beyond", l.count(_ > Stat.quantile(l, 0.95)).toDouble, "count"))
  }

  def perLayer(rec: Rec, tr: Tracer): Map[String, Double] = {
    val n = rec.ts("request").size.toDouble
    val names = Kinds.map(spanName)
    val scan = names.map(tr.sum).map(_.scanRows).sum.toDouble
    val plan = names.map(tr.sum).map(_.planMs).sum.toDouble
    val jobs = names.map(tr.sum).map(_.jobs).sum.toDouble
    Kinds.map { k =>
      val key = if (k == "to_dict_page") "export.to_dict_page_p50_ms" else s"analytics.${k}_p50_ms"
      key -> Stat.median(rec.ts(s"req.$k")) * 1000
    }.toMap ++ Map(
      "analytics.rows_scanned_per_row_returned" -> scan / math.max(rec.c("rows_returned"), 1.0),
      "driver.plan_ms_per_req" -> plan / n,
      "spark.jobs_per_req" -> jobs / n)
  }
}

// -------------------------------------------------------------- index_lifecycle

/** The corpus extension's standing `DedupIndex` under an ingest stream:
  * the index half of `etl_monthly`. Set-up bootstraps it with
  * `DedupIndex.write`; each `ingest` screens a batch (`screenExact` +
  * `screenNearDup`) and appends the accepted docs; every `Cycle`-th
  * batch also applies a takedown and then compacts. */
final class DedupIndexPart(spark: SparkSession, seed: Long, work: String, rep: Int, tiny: Boolean)
    extends Part(spark, seed, work, rep, tiny) {
  import spark.implicits._
  val name = "dedup_index"
  val gen = if (tiny) new IndexGen(seed, 300, 50)
    else new IndexGen(seed, baseDocs = 2000, batchDocs = 250)
  private val prefix = s"pbidx_r$rep"
  /** batches per compaction cycle; each cycle holds one takedown. The
    * untimed miniature runs a whole cycle in one batch. */
  val Cycle: Int = if (tiny) 1 else gen.DeleteEvery
  private var probe: DataFrame = _
  private var b = 0

  private def land(ds: Seq[Doc], n: String): DataFrame = {
    val p = dir(n)
    ds.toDS().write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  def setup(): Unit = {
    DedupIndex.write(land(gen.base, "base"), "doc_id", "text", prefix, nb)
    probe = land(gen.probe(150), "probe")
  }

  private def screenBoth(df: DataFrame): (Array[Row], Array[Row]) =
    (DedupIndex.screenExact(spark, df, "doc_id", "text", prefix).collect(),
      DedupIndex.screenNearDup(spark, df, "doc_id", "text", prefix).collect())

  private def liveFiles(): (Long, Long) = {
    val g = Generations.committedState(spark, prefix)._1
    val wh = new java.io.File(new java.net.URI(spark.sessionState.conf.warehousePath))
    Seq("bands", "shsets", "hashes").map { l =>
      val d = new java.io.File(wh, Generations.physical(prefix, l, g))
      val ps = Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".parquet"))
      (ps.length.toLong, ps.map(_.length).sum)
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** One index batch; its timed seconds when its checks held. */
  def ingest(rec: Rec, tr: Option[Tracer]): Option[Double] = {
    b += 1
    val (batch, df) = span(tr, "gen") { val x = gen.next(); (x, land(x.docs, s"batch/b$b")) }
    val deleted = if (b % Cycle == 0) gen.takedown() else Seq.empty[Doc]
    val tdf = if (deleted.isEmpty) None else Some(span(tr, "gen")(land(deleted, s"takedown/b$b")))
    // one operation: screen (reads), append the accepted docs (writes),
    // and on every Cycle-th batch a takedown
    val (exact, exactS, near, nearS, accepted, appendS, deleteS) = span(tr, "op") {
      val (exact, exactS) = timed(span(tr, "dedupindex.screen_exact")(
        DedupIndex.screenExact(spark, df, "doc_id", "text", prefix).collect()))
      val (near, nearS) = timed(span(tr, "dedupindex.screen_neardup")(
        DedupIndex.screenNearDup(spark, df, "doc_id", "text", prefix).collect()))
      val rejected = (exact.filter(_.getBoolean(3)) ++ near.filter(_.getBoolean(4)))
        .map(_.getLong(0)).toSet
      val accepted = batch.docs.filterNot(d => rejected(d.doc_id))
      val (_, appendS) = timed(span(tr, "dedupindex.append")(DedupIndex.append(
        df.filter(col("doc_id").isin(accepted.map(_.doc_id): _*)), "doc_id", "text", prefix)))
      val deleteS = tdf.fold(0.0)(t => timed(span(tr, "dedupindex.delete")(
        DedupIndex.delete(t, "doc_id", "text", prefix)))._2)
      span(tr, "driver.caches_clear")(Caches.clear())
      (exact, exactS, near, nearS, accepted, appendS, deleteS)
    }
    // the shingle kernel alone, traced only, as an operation of its own
    tr.foreach { _ =>
      span(tr, "probe")(rec.time("shingle", timed(span(tr, "textops.shingle")(
        noop(df.select(TextOps.hashedShingleSet(col("text")).as("s")))))._2))
    }
    gen.accepted(accepted)
    val known = exact.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    val dup = near.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    val nearHits = batch.near.count(dup)
    val ok = check(rec, tr) {
      val gone = if (deleted.isEmpty) Array.empty[Row]
        else DedupIndex.screenExact(spark, land(deleted.map(d => d.copy(doc_id = d.doc_id + 3000000000L)),
          s"takedown/c$b"), "doc_id", "text", prefix).collect().filter(_.getBoolean(3))
      Seq(
        (batch.exact.forall(known), s"planted exact dups not flagged: ${batch.exact.count(!known(_))}"),
        (!batch.novel.exists(known), s"novel docs flagged known: ${batch.novel.count(known)}"),
        (gone.isEmpty, s"${gone.length} deleted docs still match"))
    }
    if (ok) {
      rec.time("screen", exactS + nearS)
      rec.time("screen_exact", exactS)
      rec.time("screen_neardup", nearS)
      rec.time("append", appendS)
      if (deleted.nonEmpty) rec.time("delete", deleteS)
      rec.add("screened_docs", batch.docs.size)
      rec.add("appended_docs", accepted.size)
      rec.add("appended_text_bytes", accepted.map(_.text.getBytes("UTF-8").length.toLong).sum)
      rec.add("deleted_docs", deleted.size)
      rec.add("near_planted", batch.near.size)
      rec.add("near_hits", nearHits)
      rec.add("candidates", near.map(_.getLong(1)).sum)
      rec.add("dup_hits", dup.size)
    }
    if (b % Cycle == 0) compactCycle(rec, tr)
    if (ok) Some(exactS + nearS + appendS + deleteS) else None
  }

  /** Compaction, checked: screen answers after it are bit-equal to
    * those before it. */
  private def compactCycle(rec: Rec, tr: Option[Tracer]): Unit = {
    val (filesBefore, _) = liveFiles()
    val before = if (tiny) null else span(tr, "check")(screenBoth(probe))
    Caches.clear()
    val (_, secs) = timed(span(tr, "op")(span(tr, "dedupindex.compact")(DedupIndex.compact(spark, prefix))))
    val (filesAfter, bytesAfter) = liveFiles()
    val ok = check(rec, tr) {
      val after = screenBoth(probe)
      Caches.clear()
      Seq((before._1.toSeq == after._1.toSeq && before._2.toSeq == after._2.toSeq,
        "screen answers changed across compact"))
    }
    if (ok) {
      rec.time("compact", secs)
      rec.add("files_before", filesBefore); rec.add("files_after", filesAfter)
      rec.counts("live_bytes") = bytesAfter.toDouble
    }
  }

  /** whether the last batch closed a compaction cycle */
  def cycleDone: Boolean = b % Cycle == 0

  def properties: String = gen.describe + s" buckets=$nb compact every $Cycle batches"
  def named(rec: Rec): Seq[(String, Double, String)] = Seq(
    ("index_screen_docs_per_s", rec.c("screened_docs") / rec.ts("screen").sum, "docs/s"),
    ("index_append_docs_per_s", (rec.c("appended_docs") + rec.c("deleted_docs")) /
      (rec.ts("append").sum + rec.ts("delete").sum), "docs/s"),
    ("index_compact_s", Stat.median(rec.ts("compact")), "s"),
    ("neardup_recall", rec.c("near_hits") / rec.c("near_planted"), "ratio"))

  def perLayer(rec: Rec, tr: Tracer): Map[String, Double] = {
    val cycles = rec.ts("compact").size.toDouble
    Map(
      "dedupindex.screen_exact_s" -> Stat.median(rec.ts("screen_exact")),
      "dedupindex.screen_neardup_s" -> Stat.median(rec.ts("screen_neardup")),
      "dedupindex.append_s" -> Stat.median(rec.ts("append")),
      "dedupindex.delete_s" -> Stat.median(rec.ts("delete")),
      "dedupindex.files_live_before_compact" -> rec.c("files_before") / cycles,
      "dedupindex.files_live_after_compact" -> rec.c("files_after") / cycles,
      "dedupindex.compact_bytes_rewritten" -> tr.sum("dedupindex.compact").outputBytes / cycles,
      "dedupindex.bytes_per_live_doc" -> rec.c("live_bytes") / gen.live.size,
      "dedupindex.write_amp" -> tr.sum("dedupindex.append").outputBytes / rec.c("appended_text_bytes"),
      "dedupindex.neardup_recall" -> rec.c("near_hits") / rec.c("near_planted"),
      "textops.shingle_docs_per_s" -> rec.c("screened_docs") / rec.ts("shingle").sum,
      "textops.neardup_candidates_per_hit" -> rec.c("candidates") / math.max(rec.c("dup_hits"), 1.0))
  }
}
