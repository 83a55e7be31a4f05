package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Seeded generator of the four raw landing tables.
  *
  * Every value is a pure function of (seed, entity, key id, version), so
  * the landing set and any later restatement of a key are reproducible
  * from the seed alone, and a key's silver image at any version can be
  * recomputed on demand (the CDC feed's before-images need exactly
  * that). Columns are all STRING, the schema-on-read shape bronze casts
  * from; every non-key value is castable under ANSI, so the defects
  * below are the only ones in the data:
  *   - ~2% extra rows per table with an empty or NULL primary key;
  *   - ~3% invalid emails, negative amounts and inverted policy date
  *     ranges;
  *   - ~5% of keys land twice, the second copy (version 1) carrying a
  *     later `updated_at` and `source_file_time`, so silver's latest-
  *     record dedup never meets a tie;
  *   - policies per customer and claims per policy are Zipf-skewed.
  *
  * Foreign keys depend on the key id only, never on the version, so a
  * restated claim stays attached to the same policy and customer.
  * Bad-PK rows use negative ids; keys are ids >= 0.
  */
object Gen {
  /** Key ids per table: customers : policies : claims : premiums
    * = 1 : 3 : 7 : 5. */
  final case class Sizes(customers: Long) {
    def of(entity: String): Long = customers * Ratio(entity)
  }
  private val Ratio = Map("customer" -> 1L, "policy" -> 3L, "claim" -> 7L,
    "premium" -> 5L)

  val Entities: Seq[String] = Seq("customer", "policy", "claim", "premium")
  val RawTable: Map[String, String] = Map("customer" -> "raw_customers",
    "policy" -> "raw_policies", "claim" -> "raw_claims",
    "premium" -> "raw_premiums")
  private val PkPrefix = Map("customer" -> "C", "policy" -> "P",
    "claim" -> "CL", "premium" -> "PR")
  private val Tag = Map("customer" -> 1, "policy" -> 2, "claim" -> 3,
    "premium" -> 4)

  val DupShare = 0.05
  val BadPkShare = 0.02
  val DefectShare = 0.03
  val ZipfS = 0.8

  val Columns: Map[String, Seq[String]] = Map(
    "customer" -> Seq("customer_id", "first_name", "last_name", "email",
      "phone", "date_of_birth", "address", "city", "state", "zip_code",
      "annual_income", "credit_score", "marital_status", "occupation"),
    "policy" -> Seq("policy_id", "customer_id", "policy_type",
      "coverage_amount", "premium_amount", "deductible", "start_date",
      "end_date", "status", "agent_id", "underwriter_id",
      "payment_frequency"),
    "claim" -> Seq("claim_id", "policy_id", "customer_id", "claim_date",
      "reported_date", "claim_amount", "settled_amount",
      "deductible_amount", "claim_reason", "status", "adjuster_id",
      "claim_type", "severity", "fraud_indicator"),
    "premium" -> Seq("premium_id", "policy_id", "customer_id",
      "payment_date", "due_date", "premium_amount", "payment_frequency",
      "payment_method", "payment_status", "late_fee", "discount_applied",
      "tax_amount", "total_amount", "transaction_id", "payment_processor"))
    .map { case (e, cs) => e -> (cs ++ Seq("created_at", "updated_at",
      "source_file_path", "source_file_time")) }

  def schema(entity: String): StructType =
    StructType(Columns(entity).map(StructField(_, StringType)))

  def pk(entity: String, id: Long): String = f"${PkPrefix(entity)}$id%08d"

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1), a pure function of its arguments. */
  def unit(seed: Long, entity: String, field: Int, id: Long,
      ver: Int): Double = {
    val h = mix(mix(mix(mix(mix(seed) ^ Tag(entity)) ^ field) ^ id) ^ ver)
    (h >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Whether key `id` lands twice (its landing version is then 1). */
  def landsTwice(seed: Long, entity: String, id: Long): Boolean =
    unit(seed, entity, 0, id, 0) < DupShare

  /** Zipf(s)-ranked id in [0, n), permuted so hot ids scatter over the
    * key space: inverse CDF of the continuous power law, then an affine
    * bijection mod n. */
  def zipfId(u: Double, n: Long, s: Double = ZipfS): Long = {
    val a = 1.0 - s
    val rank = math.min(
      math.floor(math.pow(u * (math.pow(n.toDouble, a) - 1) + 1, 1 / a))
        .toLong - 1, n - 1)
    Math.floorMod(rank * 2654435761L + 977L, n)
  }

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  private val Epoch = LocalDate.of(2020, 1, 1)
  private val EpochSec = 1577836800L

  /** Foreign keys: depend on the id only. */
  def customerOfPolicy(seed: Long, sizes: Sizes, policyId: Long): Long =
    zipfId(unit(seed, "policy", 10, policyId, 0), sizes.of("customer"))
  def policyOfClaim(seed: Long, sizes: Sizes, claimId: Long): Long =
    zipfId(unit(seed, "claim", 10, claimId, 0), sizes.of("policy"))

  /** One raw landing row (all STRING, [[Columns]] order) of key `id` at
    * version `ver`; negative ids are bad-PK rows. */
  def row(seed: Long, sizes: Sizes, entity: String, id: Long,
      ver: Int): Array[String] = {
    def u(field: Int): Double = unit(seed, entity, field, id, ver)
    def fixed(field: Int): Double = unit(seed, entity, field, id, 0)
    def pick(field: Int, vs: String*): String = vs((u(field) * vs.size).toInt)
    def between(field: Int, lo: Double, hi: Double): Double =
      lo + u(field) * (hi - lo)
    def money(field: Int, lo: Double, hi: Double): String =
      String.format(Locale.ROOT, "%.2f", Double.box(between(field, lo, hi)))
    def defective(field: Int, v: String): String =
      if (u(field) < DefectShare) "-" + v else v
    def ts(days: Long, field: Int): String =
      TsFmt.format(Instant.ofEpochSecond(
        EpochSec + days * 86400L + (fixed(field) * 86000).toLong))
    def date(days: Long): String = Epoch.plusDays(days).toString
    def num(field: Int, n: Int): Long = (u(field) * n).toLong
    val key =
      if (id >= 0) pk(entity, id)
      else if (fixed(1) < 0.5) null
      else ""
    val body: Seq[String] = entity match {
      case "customer" =>
        val first = pick(20, "alice", "bob", "carol", "dave", "erin",
          "frank", "grace", "heidi", "ivan", "judy", "mallory", "oscar")
        val last = pick(21, "smith", "jones", "brown", "garcia", "miller",
          "davis", "lopez", "wilson", "moore", "taylor")
        Seq(key,
          if (u(22) < 0.2) s"  $first " else first,
          last.toUpperCase(Locale.ROOT),
          if (u(23) < DefectShare) s"$first.at.example"
          else s"$first.$last@" + pick(24, "example.com",
            "mail.example.org", "insure.example.net"),
          f"555-${num(25, 10000)}%04d",
          date(-29000 + num(26, 22000)),
          s"${num(27, 9999)} Main St",
          pick(28, "Austin", "Miami", "Denver", "Boston", "Seattle",
            "Phoenix", "Albany", "Hartford"),
          pick(29, "TX", "FL", "CA", "NY", "NJ", "CT", "WA", "CO", "AZ",
            "MA", "OR", "IL"),
          f"${num(30, 99999)}%05d",
          money(31, 20000, 250000),
          (300 + num(32, 551)).toString,
          pick(33, "single", "married", "divorced", "widowed"),
          pick(34, "engineer", "teacher", "nurse", "driver", "chef",
            "lawyer", "artist"))
      case "policy" =>
        val start = num(40, 1400)
        val end = start + 180 + num(41, 900)
        val inverted = u(42) < DefectShare
        Seq(key,
          pk("customer", customerOfPolicy(seed, sizes, id)),
          pick(43, "auto", "home", "life", "health", "travel"),
          money(44, 10000, 900000),
          defective(45, money(46, 200, 6000)),
          money(47, 0, 5000),
          date(if (inverted) end else start),
          date(if (inverted) start else end),
          pick(48, "active", "active", "active", "expired", "cancelled",
            "pending"),
          f"A${num(49, 200)}%03d",
          f"U${num(50, 40)}%02d",
          pick(51, "monthly", "quarterly", "annual"))
      case "claim" =>
        val pid = policyOfClaim(seed, sizes, id)
        val day = num(60, 1500)
        Seq(key,
          pk("policy", pid),
          pk("customer", customerOfPolicy(seed, sizes, pid)),
          ts(day, 61),
          ts(day + num(62, 45), 63),
          defective(64, money(65, 100, 60000)),
          defective(66, money(67, 0, 50000)),
          pick(68, "250", "500", "1000", "2500"),
          pick(69, "collision", "theft", "fire", "flood", "injury", "storm"),
          pick(70, "open", "closed", "approved", "denied", "settled"),
          f"ADJ${num(71, 120)}%03d",
          pick(72, "auto", "property", "liability", "medical"),
          pick(73, "low", "medium", "high", "critical"),
          if (u(74) < 0.05) "1" else "0")
      case "premium" =>
        val pid = (fixed(80) * sizes.of("policy")).toLong
        val day = num(81, 1500)
        Seq(key,
          pk("policy", pid),
          pk("customer", customerOfPolicy(seed, sizes, pid)),
          ts(day, 82),
          ts(day + 14, 82),
          defective(83, money(84, 50, 600)),
          pick(85, "monthly", "quarterly", "annual"),
          pick(86, " credit card ", "ach", "check", "wire"),
          pick(87, "paid", "late", "missed"),
          money(88, 0, 40),
          money(89, 0, 30),
          money(95, 0, 60),
          money(96, 50, 700),
          s"T-${id * 10 + ver}",
          pick(97, " stripe ", "adyen", "paypal"))
    }
    // later versions are strictly later in both orderings silver uses
    (body ++ Seq(
      ts((fixed(91) * 900).toLong, 92),
      ts(1000 + ver * 30L + (fixed(93) * 20).toLong, 94),
      s"landing/$entity/v$ver/part-${Math.floorMod(id, 16L)}.json",
      ts(1200 + ver * 30L, 90))).toArray
  }

  /** (id, version) of every landing row of one entity: version 0 of
    * every key, version 1 of the keys that land twice, and the bad-PK
    * rows (negative ids). */
  def landingKeys(seed: Long, sizes: Sizes, entity: String,
      ids: Iterator[Long]): Iterator[(Long, Int)] =
    ids.flatMap { id =>
      if (id >= 0 && landsTwice(seed, entity, id)) Iterator((id, 0), (id, 1))
      else Iterator((id, 0))
    }

  /** Id range of one entity's landing set: bad-PK ids, then keys. */
  def landingIds(sizes: Sizes, entity: String): (Long, Long) = {
    val n = sizes.of(entity)
    (-math.max(1L, (n * BadPkShare).toLong), n)
  }

  /** The landing set of one entity, generated in parallel; returns the
    * frame and its row count. */
  def landing(spark: SparkSession, seed: Long, sizes: Sizes,
      entity: String): (DataFrame, Long) = {
    val (lo, hi) = landingIds(sizes, entity)
    val rows = spark.sparkContext
      .range(lo, hi, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(ids => landingKeys(seed, sizes, entity, ids)
        .map { case (id, v) => Row.fromSeq(row(seed, sizes, entity, id, v)) })
    (spark.createDataFrame(rows, schema(entity)),
      landingKeys(seed, sizes, entity, Iterator.range(0L, hi)).size - lo)
  }

  /** Raw rows of explicit (id, version) pairs as a DataFrame. */
  def rawFrame(spark: SparkSession, seed: Long, sizes: Sizes,
      entity: String, keys: Seq[(Long, Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext
      .parallelize(keys, spark.sparkContext.defaultParallelism)
      .map { case (id, v) => Row.fromSeq(row(seed, sizes, entity, id, v)) },
      schema(entity))
}
