package perfbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import scala.collection.mutable
import scala.util.Random

/** Seeded input generators for the three workloads. Everything here is
  * plain Scala over `scala.util.Random`: the same seed yields the same
  * rows, and each generator also returns the facts it planted (the
  * "truth") that the output checks compare against. No engine code runs
  * here, so the engine only ever sees the generated rows.
  */
object Gen {

  /** A stream-specific RNG: independent streams of one seed never share
    * draws, so adding draws to one stream cannot shift another. */
  def rng(seed: Long, stream: Int): Random =
    new Random(seed * 1000003L + stream * 7919L + 17L)

  /** SHA-256 of a canonical rendering — the determinism fingerprint. */
  def contentHash(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Draw an index by weight. */
  def pick(r: Random, weights: IndexedSeq[Double]): Int = {
    var x = r.nextDouble() * weights.sum
    var i = 0
    while (i < weights.size - 1 && x >= weights(i)) { x -= weights(i); i += 1 }
    i
  }

  def ts(d: LocalDateTime): Timestamp = Timestamp.valueOf(d)
}

// ---------------------------------------------------------------- etl_monthly

/** One scraped detail page in `Standardize`'s input shape. */
final case class RawItem(url: String, source: String, raw_title: String,
                         raw_price: String, raw_type: String,
                         raw_contract: String, raw_desc: String,
                         labels: Seq[String], raw_image: String)

/** The stable facts of one listing url, as the generator planted them. */
final case class EtlProp(url: String, source: String, ptype: String,
                         rawType: String, contract: String,
                         rawContract: String, title: String, desc: String,
                         fmt: Int, amount: Long, bedrooms: Option[Int],
                         tags: Set[String], image: String)

/** One month's crawl batch plus its planted truth. */
final case class EtlBatch(asOf: LocalDate, items: Seq[RawItem],
                          newUrls: Seq[String], matchedUrls: Seq[String],
                          delistedUrls: Seq[String],
                          tagCounts: Map[String, Long])

object EtlGen {
  /** the reference crawls 22 sources (SURVEY.md §6, crawl topology) */
  val Sources: IndexedSeq[String] = (1 to 22).map(i => f"s$i%02d")
  /** listings one source holds: the one count the reference states
    * (SURVEY.md §6, implied dataset scale) */
  val ListingsPerSource = 472
  /** listings in one full crawl of every source */
  val CrawlItems: Int = Sources.size * ListingsPerSource
  /** Zipf-like source skew, an assumption: the largest source is ~14x
    * the smallest. */
  val SourceWeights: IndexedSeq[Double] =
    Sources.indices.map(i => 1.0 / math.pow(i + 1, 0.85))
  val Locations = IndexedSeq("Ubud", "Canggu", "Seminyak", "Uluwatu",
    "Sanur", "Jimbaran", "Tabanan", "Kerobokan", "Pererenan", "Lovina")
  /** raw type, standardized type, share */
  val Types = IndexedSeq(("Villa", "Villa", .42), ("House", "House", .12),
    ("Land", "Land", .15), ("Apartment", "Apartment", .10),
    ("Townhouse", "Townhouse", .06), ("Hotel", "Hotel", .03),
    ("Loft", "Loft", .02), ("Castle", "Castle", .05),
    ("Commercial", "Commercial", .05))
  val KnownTypes = Set("Villa", "House", "Land", "Apartment", "Hotel",
    "Townhouse", "Commercial", "Loft")
  val Colors = IndexedSeq("yellow", "red", "pink", "green", "orange",
    "grey", "blue")

  /** Price formats: example, share, currency, whether the scalar cleaners
    * (`findIdr`/`findUsd`) miss it so it falls through to the `Udfs`
    * regex parser. The shapes are the raw-price fixtures of FIXTURES.md
    * plus one per branch of the `Parse.reExtractPrice` cascade; the shares
    * are assumptions. */
  val PriceFormats = IndexedSeq(
    ("IDR 2.500.000.000", .30, "IDR", false),
    ("USD 250,000", .20, "USD", false),
    ("Rp 4.250.000.000", .10, "IDR", true),
    ("Rp 850 juta", .10, "IDR", true),
    ("Rp 3,5 Milyar", .10, "IDR", true),
    ("2,5 juta/m2", .05, "IDR", true),
    ("Price Request", .10, "IDR", true),
    ("-1", .05, "IDR", true))
  val UdfFallbackShare: Double = PriceFormats.filter(_._4).map(_._2).sum

  // the batch shares below are assumptions: the reference states none
  val MatchedShare = 0.60
  val NewShare = 0.30
  val DelistedShare = 0.10
  val PriceChangeShare = 0.20

  /** The tab `Merge.classifyTab` must assign to these values. */
  def tab(fmt: Int, amount: Long, ptype: String): String = {
    val cur = PriceFormats(fmt)._3
    if (cur == "IDR" && amount >= 78656000000L) "LUXURY LISTINGS"
    else if (cur == "USD" && amount >= 5000000L) "LUXURY LISTINGS"
    else if (ptype == "Land") "ALL LAND"
    else "DATA"
  }

  private def grouped(n: Long, sep: Char): String =
    n.toString.reverse.grouped(3).mkString(sep.toString).reverse

  def priceText(fmt: Int, amount: Long): String = fmt match {
    case 0 => "IDR " + grouped(amount, '.')
    case 1 => "USD " + grouped(amount, ',')
    case 2 => "Rp " + grouped(amount, '.')
    case 3 => s"Rp ${amount / 1000000L} juta"
    case 4 => s"Rp ${halves(amount, 1000000000L)} Milyar"
    case 5 => s"${halves(amount, 1000000L)} juta/m2"
    case 6 => "Price Request"
    case _ => "-1"
  }

  /** `amount / unit` in halves, as "3" or "3,5" */
  private def halves(amount: Long, unit: Long): String = {
    val h = amount / (unit / 2)
    if (h % 2 == 0) s"${h / 2}" else s"${h / 2},5"
  }

  /** A price amount the format can state exactly. */
  def drawAmount(r: Random, fmt: Int): Long = fmt match {
    case 0 =>
      if (r.nextDouble() < 0.06) (80000L + r.nextInt(70000)) * 1000000L
      else (500L + r.nextInt(19500)) * 1000000L
    case 1 =>
      if (r.nextDouble() < 0.05) (5000L + r.nextInt(4000)) * 1000L
      else (80L + r.nextInt(1920)) * 1000L
    case 2 => (500L + r.nextInt(19500)) * 1000000L
    case 3 => (100L + r.nextInt(890)) * 1000000L
    case 4 => (2L + r.nextInt(18)) * 500000000L
    case 5 => (2L + r.nextInt(40)) * 500000L
    case _ => 0L
  }
}

/** The monthly crawl chain. `base` is the month-0 crawl that set-up lands;
  * `next()` draws the following batch against the generator's own record
  * of the listing table, so every batch's truth is exact. Two batches per
  * month share a REID month bucket, so the second one's new ids must
  * continue the first one's sequence.
  */
final class EtlGen(seed: Long, val baseItems: Int, val batchItems: Int) {
  import EtlGen._
  private val r = Gen.rng(seed, 1)
  private var nextId = 0L
  val props = mutable.LinkedHashMap.empty[String, EtlProp]
  /** current planted price amount per url (matched re-crawls may change it) */
  val amounts = mutable.HashMap.empty[String, Long]
  private var batchNo = 0

  val baseAsOf: LocalDate = LocalDate.of(2024, 1, 20)
  def asOfOf(k: Int): LocalDate =
    LocalDate.of(2024, 2, 1).plusMonths(k / 2).withDayOfMonth(if (k % 2 == 0) 5 else 20)

  private def newProp(): EtlProp = {
    val id = nextId; nextId += 1
    val source = Sources(Gen.pick(r, SourceWeights))
    val url = s"https://www.$source-bali.com/listing/L$id"
    val (rawType, ptype, _) = Types(Gen.pick(r, Types.map(_._3)))
    val cd = r.nextDouble()
    val (rawContract, contract) =
      if (cd < .45) ("Leasehold", "Leasehold")
      else if (cd < .85) ("Freehold", "Freehold") else ("", "Freehold")
    val naTitle = r.nextDouble() < 0.02
    val bedrooms: Option[Int] =
      if (naTitle) None
      else if (ptype == "Land") (if (r.nextDouble() < 0.05) Some(1 + r.nextInt(4)) else None)
      else if (r.nextDouble() < 0.75)
        Some(if (r.nextDouble() < 0.03) 13 + r.nextInt(6) else 1 + r.nextInt(6))
      else None
    val titleLoc = if (!naTitle && r.nextDouble() < 0.7)
      Some(Locations(r.nextInt(Locations.size))) else None
    val title =
      if (naTitle) "N/A"
      else bedrooms.fold(s"Beautiful $rawType")(n => s"$n Bedroom $rawType") +
        titleLoc.fold("")(l => s" in $l")
    // description: one sentence per line; each optional line plants one fact
    val emptyDesc = r.nextDouble() < 0.03
    val land = if (!emptyDesc && r.nextDouble() < 0.55) Some(100 + r.nextInt(900)) else None
    val build = if (!emptyDesc && ptype != "Land" && r.nextDouble() < 0.6)
      Some(50 + r.nextInt(950)) else None
    val lease = if (!emptyDesc && contract == "Leasehold" && r.nextDouble() < 0.7)
      Some(15 + r.nextInt(31)) else None
    val descLoc = if (!emptyDesc && titleLoc.isEmpty && r.nextDouble() < 0.6)
      Some(Locations(r.nextInt(Locations.size))) else None
    val zoning = if (!emptyDesc && ptype == "Land" && r.nextDouble() < 0.7)
      Some(Colors(r.nextInt(Colors.size))) else None
    val offPlan = !emptyDesc && r.nextDouble() < 0.05
    val desc = if (emptyDesc) "" else (Seq("A well kept property with a garden.") ++
      land.map(l => s"Land size $l sqm.") ++ build.map(b => s"Building size $b sqm.") ++
      lease.map(y => s"Lease $y years.") ++ descLoc.map(l => s"Location: $l.") ++
      zoning.map(c => s"Zoning $c.") ++ (if (offPlan) Seq("Off plan project.") else Nil))
      .mkString("\n")
    val fmt = Gen.pick(r, PriceFormats.map(_._2))
    val amount = drawAmount(r, fmt)
    // which of Quality's rules the planted facts trip (price/availability
    // rules depend on the crawl and are added per item)
    val landSize = land.orElse(build)
    val buildSize = build.orElse(land)
    val tags = Set.newBuilder[String]
    if (bedrooms.exists(_ >= 13)) tags += "has_more_than_13_bedrooms"
    if (bedrooms.isEmpty && ptype != "Land") tags += "no_bedrooms"
    if (naTitle) tags += "no_title"
    if (emptyDesc) tags += "no_description"
    if (titleLoc.isEmpty && descLoc.isEmpty) tags += "no_location"
    if (land.isDefined && build.isDefined && buildSize.get > landSize.get)
      tags += "build_size_greater_than_land_size"
    if (contract == "Leasehold" && lease.isEmpty) tags += "no_leasehold_years"
    if (!KnownTypes(ptype)) tags += "unknown_property_type"
    if (ptype == "Land" && bedrooms.exists(_ > 0)) tags += "land_with_bedrooms"
    if (ptype == "Land" && zoning.isEmpty) tags += "no_land_zoning"
    EtlProp(url, source, ptype, rawType, contract, rawContract, title, desc,
      fmt, amount, bedrooms, tags.result(),
      s"https://img.example.com/$source/L$id-800x600.jpg")
  }

  private def item(p: EtlProp, amount: Long, labels: Seq[String]): RawItem =
    RawItem(p.url, p.source, p.title, priceText(p.fmt, amount), p.rawType,
      p.rawContract, p.desc, labels, p.image)

  private def itemTags(p: EtlProp, amount: Long, delisted: Boolean): Set[String] =
    p.tags ++ (if (amount == 0L) Set("no_price") else Set.empty) ++
      (if (delisted) Set("not_available") else Set.empty)

  private def plainLabels(): Seq[String] =
    if (r.nextDouble() < 0.3) Seq("Featured") else Seq.empty

  /** The month-0 crawl: all new urls. */
  lazy val base: EtlBatch = {
    val ps = Seq.fill(baseItems)(newProp())
    ps.foreach { p => props(p.url) = p; amounts(p.url) = p.amount }
    val items = ps.map(p => item(p, p.amount, plainLabels()))
    EtlBatch(baseAsOf, items, ps.map(_.url), Nil, Nil,
      counts(ps.flatMap(p => itemTags(p, p.amount, delisted = false))))
  }

  private def counts(tags: Seq[String]): Map[String, Long] =
    tags.groupBy(identity).view.mapValues(_.size.toLong).toMap

  /** The next crawl batch: matched re-crawls (some with a new price),
    * re-crawls now labelled sold/delisted, and brand-new urls. Updates
    * the generator's record of the listing table. */
  def next(): EtlBatch = {
    base
    val k = batchNo; batchNo += 1
    val nMatched = math.round(batchItems * MatchedShare).toInt
    val nDelisted = math.round(batchItems * DelistedShare).toInt
    val nNew = batchItems - nMatched - nDelisted
    val existing = props.keysIterator.toIndexedSeq
    val chosen = r.shuffle(existing.indices.toVector).take(nMatched + nDelisted)
      .map(existing)
    val (matched, delisted) = chosen.splitAt(nMatched)
    val tags = Seq.newBuilder[String]
    val matchedItems = matched.map { u =>
      val p = props(u)
      if (p.amount != 0L && r.nextDouble() < PriceChangeShare)
        amounts(u) = drawAmount(r, p.fmt)
      tags ++= itemTags(p, amounts(u), delisted = false)
      item(p, amounts(u), plainLabels())
    }
    val delistedItems = delisted.map { u =>
      val p = props(u)
      tags ++= itemTags(p, amounts(u), delisted = true)
      item(p, amounts(u), Seq(if (r.nextBoolean()) "Sold" else "Delisted"))
    }
    val fresh = Seq.fill(nNew)(newProp())
    fresh.foreach { p => props(p.url) = p; amounts(p.url) = p.amount }
    val newItems = fresh.map { p =>
      tags ++= itemTags(p, p.amount, delisted = false)
      item(p, p.amount, plainLabels())
    }
    // crawl order is not url order: interleave deterministically
    val items = r.shuffle((matchedItems ++ delistedItems ++ newItems).toVector)
    EtlBatch(asOfOf(k), items, fresh.map(_.url), matched, delisted,
      counts(tags.result()))
  }

  /** Expected tab counts over the whole listing table right now. */
  def tabCounts: Map[String, Long] =
    props.valuesIterator.map(p => tab(p.fmt, amounts(p.url), p.ptype)).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  def describe: String = {
    val srcSizes = base.items.groupBy(_.source).values.map(_.size)
    f"items/batch=$batchItems base=$baseItems sources=${Sources.size} " +
      f"source skew max/min=${srcSizes.max.toDouble / srcSizes.min}%.1f " +
      f"matched/new/delisted=${MatchedShare}%.2f/${NewShare}%.2f/${DelistedShare}%.2f " +
      f"price-change(matched)=$PriceChangeShare%.2f " +
      PriceFormats.map(f => f"'${f._1}'=${f._2}%.2f").mkString("price mix: ", " ", "") +
      f" udf-fallback=$UdfFallbackShare%.2f"
  }
}

// ------------------------------------------------------------ serve_dashboard

final case class ListingRow(id: Long, url: String, source: String,
                            reid_id: String, title: String, region: String,
                            scraped_at: Timestamp, created_at: Timestamp,
                            updated_at: Timestamp, tab: String,
                            price: java.lang.Long, currency: String,
                            availability: String, is_available: Boolean,
                            is_off_plan: Boolean, image_url: String,
                            description: String, location: String,
                            leasehold_years: java.lang.Double,
                            contract_type: String, property_type: String,
                            bedrooms: java.lang.Double,
                            bathrooms: java.lang.Double,
                            build_size: java.lang.Double,
                            land_size: java.lang.Double, land_zoning: String,
                            property_id: String, listed_date: String,
                            sold_at: Timestamp)
final case class TagRow(property_id: Long, name: String, is_solved: Boolean,
                        is_ignored: Boolean)
final case class QueueRow(id: Long, url: String, status: String,
                          created_at: Timestamp, updated_at: Timestamp)
final case class ReportRow(source: String, created_at: Timestamp,
                           item_scraped_count: Long,
                           response_error_count: Long,
                           elapsed_time_seconds: Double)

/** One dashboard request: kind plus its seeded parameters. */
final case class Req(kind: String, status: Option[String] = None,
                     domain: Option[String] = None, page: Int = 1,
                     date: String = "", source: String = "")

final class ServeGen(seed: Long, val listings: Int, val queue: Int,
                     val tags: Int) {
  import EtlGen.{Sources, SourceWeights}
  private val r = Gen.rng(seed, 2)
  val Statuses = IndexedSeq("Available", "Error", "Delisted", "Sold", "Pending")
  val StatusWeights = IndexedSeq(.55, .10, .15, .15, .05)
  val Domains: IndexedSeq[String] = Sources.map(s => s"www.$s-bali.com")
  val Issues = IndexedSeq("has_more_than_13_bedrooms", "no_bedrooms",
    "no_price", "no_title", "no_description", "no_location",
    "build_size_greater_than_land_size", "no_leasehold_years",
    "not_available", "unknown_property_type", "land_with_bedrooms",
    "no_land_zoning")
  val ReidShare = 0.85
  /** The request mix: kind → requests per deck of 15. An assumption: the
    * reference logs no request counts; queue browsing is taken to be the
    * dashboard's most frequent call. */
  val Mix = IndexedSeq("monthly_counts" -> 1, "crawl_report" -> 1,
    "report_totals" -> 1, "queue_stats" -> 1, "queue_page" -> 8,
    "tag_counts" -> 1, "domains" -> 1, "to_dict_page" -> 1)

  private val t2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  lazy val listingRows: Seq[ListingRow] = {
    val perBucket = mutable.HashMap.empty[(Int, String), Int]
    (0 until listings).map { i =>
      val src = Sources(Gen.pick(r, SourceWeights))
      val month = r.nextInt(24) // 2023-01 .. 2024-12
      val reid = if (r.nextDouble() < ReidShare) {
        val n = perBucket.getOrElse((month, src), 0) + 1
        perBucket((month, src)) = n
        f"REID_${23 + month / 12}%02d_${1 + month % 12}%02d_${src}_$n%03d"
      } else if (r.nextBoolean()) null else s"LEGACY-$i"
      val scraped = Gen.ts(t2024.minusMonths(12).plusMonths(month).plusDays(r.nextInt(28)))
      val usd = r.nextDouble() < 0.25
      val avail = EtlGen.Types(Gen.pick(r, EtlGen.Types.map(_._3)))._2
      val sold = r.nextDouble() < 0.15
      ListingRow(i.toLong, s"https://www.$src-bali.com/listing/S$i", src, reid,
        s"Listing $i", "Bali", scraped, scraped, scraped, "DATA",
        java.lang.Long.valueOf(if (usd) (80L + r.nextInt(2000)) * 1000L
          else (500L + r.nextInt(20000)) * 1000000L),
        if (usd) "USD" else "IDR",
        if (sold) (if (r.nextBoolean()) "Sold" else "Delisted") else "Available",
        !sold, r.nextDouble() < 0.05, s"https://img.example.com/S$i.jpg",
        s"Description of listing $i.", EtlGen.Locations(r.nextInt(10)),
        if (r.nextBoolean()) java.lang.Double.valueOf(15 + r.nextInt(30)) else null,
        if (r.nextBoolean()) "Leasehold" else "Freehold", avail,
        java.lang.Double.valueOf(1 + r.nextInt(6)), java.lang.Double.valueOf(1 + r.nextInt(5)),
        java.lang.Double.valueOf(50 + r.nextInt(500)), java.lang.Double.valueOf(100 + r.nextInt(900)),
        null, s"P$i", null, if (sold) scraped else null)
    }
  }
  lazy val reidCount: Long = listingRows.count(l => l.reid_id != null && l.reid_id.startsWith("REID_"))

  lazy val tagRows: Seq[TagRow] = (0 until tags).map { _ =>
    TagRow(r.nextInt(listings).toLong, Issues(r.nextInt(Issues.size)),
      r.nextDouble() < 0.2, r.nextDouble() < 0.1)
  }.distinctBy(t => (t.property_id, t.name))
  lazy val openTagCounts: Map[String, Long] =
    tagRows.filter(t => !t.is_solved && !t.is_ignored).groupBy(_.name)
      .view.mapValues(_.size.toLong).toMap

  lazy val queueRows: Seq[QueueRow] = (1 to queue).map { i =>
    val created = t2024.plusSeconds(r.nextInt(366 * 86400 / 60) * 60L)
    QueueRow(i.toLong, s"https://${Domains(Gen.pick(r, SourceWeights))}/listing/Q$i",
      Statuses(Gen.pick(r, StatusWeights)), Gen.ts(created),
      Gen.ts(created.plusHours(r.nextInt(48))))
  }
  lazy val statusCounts: Map[String, Long] =
    queueRows.groupBy(_.status).view.mapValues(_.size.toLong).toMap
  lazy val domainSet: Set[String] = queueRows.map(q => q.url.split("/")(2)).toSet

  lazy val reportRows: Seq[ReportRow] = for {
    s <- Sources; d <- 0 until 100; k <- 0 until (1 + r.nextInt(2))
  } yield ReportRow(s, Gen.ts(t2024.plusDays(d).plusHours(2 + 8 * k)
      .plusMinutes(r.nextInt(60))), 200L + r.nextInt(3000), r.nextInt(50).toLong,
    (60 + r.nextInt(3600)).toDouble)

  /** The seeded request sequence, cycled by the closed-loop client.
    * Decks are shuffled, so every deck of consecutive requests holds the
    * exact mix whatever the seed; within a deck the `queue_page` requests
    * cover each filter shape (status set or not × domain set or not ×
    * an early or a late page) once, with seeded values, so the work per
    * deck does not swing with the seed. */
  def requests(decks: Int): IndexedSeq[Req] = {
    val rq = Gen.rng(seed, 3)
    val deck = Mix.flatMap { case (k, w) => Seq.fill(w)(k) }
    val shapes = for (st <- Seq(true, false); dm <- Seq(true, false); late <- Seq(false, true))
      yield (st, dm, late)
    (0 until decks).flatMap { _ =>
      val pageShapes = rq.shuffle(shapes).iterator
      rq.shuffle(deck).map {
        case "queue_page" =>
          val (st, dm, late) = pageShapes.next()
          Req("queue_page",
            status = if (st) Some(Statuses(rq.nextInt(4))) else None,
            domain = if (dm) Some(Domains(rq.nextInt(Domains.size))) else None,
            page = 1 + rq.nextInt(10) + (if (late) 10 else 0))
        case k @ ("crawl_report" | "report_totals") =>
          Req(k, date = LocalDate.of(2024, 1 + rq.nextInt(2), 1).toString)
        case "to_dict_page" =>
          // a page that exists: the source's listing count bounds it
          val src = Sources(rq.nextInt(6))
          val pages = math.max(1, listingRows.count(_.source == src) / 50)
          Req("to_dict_page", source = src, page = 1 + rq.nextInt(math.min(5, pages)))
        case k => Req(k)
      }
    }
  }

  def describe: String =
    s"listings=$listings (reid-bearing ${reidCount}) queue=$queue " +
      s"tags=${tagRows.size} reports=${reportRows.size} " +
      Mix.map { case (k, w) => s"$k=$w" }.mkString("mix per deck: ", " ", "")
}

// ------------------------------------------------------------ index_lifecycle

final case class Doc(doc_id: Long, text: String)

/** One ingest batch: docs plus what each doc was planted as. */
final case class IndexBatch(docs: Seq[Doc], exact: Set[Long], near: Set[Long],
                            novel: Set[Long])

final class IndexGen(seed: Long, val baseDocs: Int, val batchDocs: Int) {
  private val r = Gen.rng(seed, 4)
  val ExactShare = 0.15
  val NearShare = 0.15
  val NovelShare = 0.70
  /** words replaced per near-dup edit, per 100 words */
  val EditsPer100 = 2
  val DeleteEvery = 2
  val DeleteDocs = 40

  val vocab: IndexedSeq[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 3000).map(_ => Seq.fill(3 + r.nextInt(7))(letters(r.nextInt(26))).mkString)
      .distinct
  }
  private def novelText(g: Random = r): String =
    IndexedSeq.fill(60 + g.nextInt(81))(vocab(g.nextInt(vocab.size))).mkString(" ")
  /** A near-duplicate: `EditsPer100` words per 100 replaced. */
  private def edited(text: String, g: Random = r): String = {
    val w = text.split(" ")
    val edits = math.max(1, w.length * EditsPer100 / 100)
    (0 until edits).foreach(_ => w(g.nextInt(w.length)) = vocab(g.nextInt(vocab.size)))
    w.mkString(" ")
  }

  private var nextId = 0L
  /** live docs by id (the index's planted membership) */
  val live = mutable.LinkedHashMap.empty[Long, String]
  /** base docs eligible for a takedown */
  private val deletable = mutable.ArrayBuffer.empty[Long]

  lazy val base: Seq[Doc] = {
    val ds = Seq.fill(baseDocs) { val d = Doc(nextId, novelText()); nextId += 1; d }
    ds.foreach { d => live(d.doc_id) = d.text; deletable += d.doc_id }
    ds
  }

  def next(): IndexBatch = {
    base
    val liveIds = live.keysIterator.toIndexedSeq
    val nExact = math.round(batchDocs * ExactShare).toInt
    val nNear = math.round(batchDocs * NearShare).toInt
    val docs = Seq.newBuilder[Doc]
    val exact, near, novel = Set.newBuilder[Long]
    def fresh(t: String): Long = { val id = nextId; nextId += 1; docs += Doc(id, t); id }
    (0 until batchDocs).foreach { i =>
      if (i < nExact) exact += fresh(live(liveIds(r.nextInt(liveIds.size))))
      else if (i < nExact + nNear) near += fresh(edited(live(liveIds(r.nextInt(liveIds.size)))))
      else novel += fresh(novelText())
    }
    val ds = r.shuffle(docs.result())
    IndexBatch(ds, exact.result(), near.result(), novel.result())
  }

  /** Record the docs the index accepted (they are now live). */
  def accepted(ds: Seq[Doc]): Unit = ds.foreach(d => live(d.doc_id) = d.text)

  /** The next takedown: base docs, removed from the live set. */
  def takedown(): Seq[Doc] = {
    val ids = (0 until DeleteDocs).map(_ => deletable.remove(r.nextInt(deletable.size)))
    ids.map(id => Doc(id, live.remove(id).get))
  }

  /** A fixed probe batch from its own RNG stream (drawing it does not
    * shift the ingest stream): exact copies, near edits and novel docs,
    * with ids outside the ingest id range. */
  def probe(n: Int): Seq[Doc] = {
    val g = Gen.rng(seed, 5)
    (0 until n).map { i =>
      val src = base(g.nextInt(base.size)).text
      Doc(4000000000L + i, i % 3 match {
        case 0 => src
        case 1 => edited(src, g)
        case _ => novelText(g)
      })
    }
  }

  def describe: String =
    f"base=$baseDocs batch=$batchDocs exact/near/novel=$ExactShare%.2f/$NearShare%.2f/$NovelShare%.2f " +
      f"edits/100w=$EditsPer100 delete=$DeleteDocs docs every $DeleteEvery batches"
}
