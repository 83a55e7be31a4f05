package perfbench

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The benchmark's generators: seeded, reproducible, and a CDC feed
  * whose images always describe each key's current state. */
class GenSpec extends AnyFunSuite {
  private val sizes = Gen.Sizes(300)

  private def sha(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def landingDigest(seed: Long): Map[String, String] =
    Gen.Entities.map { e =>
      val (lo, hi) = Gen.landingIds(sizes, e)
      e -> sha(Gen.landingKeys(seed, sizes, e, Iterator.range(lo, hi))
        .map { case (id, v) => Gen.row(seed, sizes, e, id, v).mkString("\u0001") })
    }.toMap

  private def feedDigest(seed: Long, batches: Int): String = {
    val feed = new CdcFeed(seed, sizes)
    sha(Iterator.fill(batches)(feed.nextBatch()).flatten.map(_.toString))
  }

  test("the same seed gives identical digests, another seed other ones") {
    assert(landingDigest(7) === landingDigest(7))
    assert(feedDigest(7, 5) === feedDigest(7, 5))
    val other = landingDigest(8)
    Gen.Entities.foreach(e => assert(landingDigest(7)(e) !== other(e), e))
    assert(feedDigest(7, 5) !== feedDigest(8, 5))
  }

  test("the landing set carries its defects and duplicates") {
    val seed = 3L
    val (lo, hi) = Gen.landingIds(sizes, "policy")
    val rows = Gen.landingKeys(seed, sizes, "policy", Iterator.range(lo, hi))
      .map { case (id, v) => (id, v, Gen.row(seed, sizes, "policy", id, v)) }
      .toSeq
    val cols = Gen.Columns("policy")
    def c(r: Array[String], n: String) = r(cols.indexOf(n))
    assert(rows.exists(r => r._1 < 0 && c(r._3, "policy_id") == null))
    assert(rows.exists(r => r._1 < 0 && c(r._3, "policy_id") == ""))
    assert(rows.exists(r => c(r._3, "premium_amount").startsWith("-")))
    assert(rows.exists(r => c(r._3, "start_date") > c(r._3, "end_date")))
    // a key landing twice: version 1 is strictly later in both orderings
    val twice = rows.groupBy(_._1).values.filter(_.size == 2).toSeq
    assert(twice.nonEmpty)
    twice.foreach { vs =>
      val Seq(a, b) = vs.sortBy(_._2).map(_._3)
      assert(c(b, "updated_at") > c(a, "updated_at"))
      assert(c(b, "source_file_time") > c(a, "source_file_time"))
    }
  }

  test("the feed, applied to a plain keyed table, yields the feed's " +
      "final state, the landing state after every revert, and every " +
      "before-image is the key's current one") {
    val seed = 11L
    val feed = new CdcFeed(seed, sizes)
    // the plain table: (entity, id) -> version, from the landing set
    val table = mutable.Map[(String, Long), Int]()
    CdcFeed.Entities.foreach(e => (0L until sizes.of(e)).foreach(id =>
      table((e, id)) = if (Gen.landsTwice(seed, e, id)) 1 else 0))
    // per-key high-water seq: bootstrap records carry seq 0
    val mark = mutable.Map[(String, Long), Long]().withDefaultValue(0L)
    val landing = table.toMap
    var redelivered = 0
    (1 to 12).foreach { b =>
      val batch = if (b % 2 == 1) feed.nextBatch() else feed.revertBatch()
      batch.sortBy(_.seq).foreach { r =>
        val k = (r.entity, r.id)
        if (r.seq <= mark(k)) redelivered += 1
        else {
          r.op match {
            case "I" => assert(!table.contains(k), s"insert of live key $r")
            case _ => assert(table.get(k).contains(r.beforeVer),
              s"stale before-image $r (table has ${table.get(k)})")
          }
          if (r.op == "D") table.remove(k) else table(k) = r.afterVer
          mark(k) = r.seq
        }
      }
      if (b % 2 == 0) assert(table.toMap === landing, s"after revert $b")
    }
    assert(redelivered > 0, "the feed never redelivered")
    CdcFeed.Entities.foreach { e =>
      val fromTable = table.collect { case ((`e`, id), v) => (id, v) }
        .toSeq.sorted
      assert(fromTable === feed.current(e).sorted, e)
    }
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run " +
      "reports") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val listed = (0 until spec.get("per_layer").size).map { i =>
      val m = spec.get("per_layer").get(i)
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText)
    }
    assert(listed === PerLayer.Spec)
  }
}
