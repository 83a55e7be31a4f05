package perfbench

import scala.collection.mutable

/** One record of the CDC feed, in generator terms: each image is named
  * by the key version it shows, and is rendered to a silver JSON image
  * only when the batch is sent. A version is -1 where the op has no
  * image (the before of an I, the after of a D). */
final case class CdcRecord(entity: String, op: String, id: Long,
    beforeVer: Int, afterVer: Int, seq: Long)

/** Seeded at-least-once CDC feed over customers, policies and claims.
  *
  * It tracks every key's current version, starting from the landing
  * set's (see [[Gen.landsTwice]]), so each U/D carries the key's
  * CURRENT image as its before-image: a stale before-image would retract
  * a row the maintained state does not hold, which the engine rejects
  * as a negative multiplicity.
  *
  * A forward batch ([[nextBatch]]) touches 0.3% of every entity's live
  * keys, one fresh op per key, with Zipf-hot keys. A revert batch
  * ([[revertBatch]]) restates the same keys back to their images before
  * the forward batch, one inverse op per key (I and D swap, U goes
  * back), so after it the live state is the landing state again. In
  * both, about 10% of the wire records are redeliveries of the previous
  * batch's records that keep their original `seq` (the first batch
  * redelivers bootstrap records, whose seq is 0), and records are
  * shuffled within the batch.
  */
final class CdcFeed(seed: Long, sizes: Gen.Sizes) {
  import CdcFeed._

  private val rnd = new java.util.SplittableRandom(seed * 31 + 7)
  private val versions: Map[String, mutable.ArrayBuffer[Int]] =
    Entities.map { e =>
      e -> mutable.ArrayBuffer.tabulate(sizes.of(e).toInt)(i =>
        if (Gen.landsTwice(seed, e, i.toLong)) 1 else 0)
    }.toMap
  private var seq = 0L
  private var previous: IndexedSeq[CdcRecord] = Entities.flatMap(e =>
    versions(e).indices.map(i =>
      CdcRecord(e, "I", i.toLong, -1, versions(e)(i), 0L))).toIndexedSeq

  /** Live keys of `entity` with their current versions. */
  def current(entity: String): Seq[(Long, Int)] =
    versions(entity).iterator.zipWithIndex
      .collect { case (v, i) if v >= 0 => (i.toLong, v) }.toSeq

  def liveCount(entity: String): Int = versions(entity).count(_ >= 0)

  def nextBatch(): Seq[CdcRecord] = send(Entities.flatMap { e =>
    val touched = mutable.HashSet[Long]()
    val k = math.max(1L, math.round(liveCount(e) * Share)).toInt
    (0 until k).flatMap { _ =>
      val r = rnd.nextDouble()
      if (r < InsertShare) {
        val id = versions(e).size.toLong
        versions(e) += 0
        touched += id
        Some(record(e, "I", id, -1, 0))
      } else hotLiveKey(e, touched).map { id =>
        val v = versions(e)(id.toInt)
        if (r < InsertShare + DeleteShare) record(e, "D", id, v, -1)
        else record(e, "U", id, v, v + 1)
      }
    }
  })

  /** The inverse of the previous batch's fresh records. */
  def revertBatch(): Seq[CdcRecord] = send(previous.reverse.map { r =>
    r.op match {
      case "I" => record(r.entity, "D", r.id, r.afterVer, -1)
      case "D" => record(r.entity, "I", r.id, -1, r.beforeVer)
      case _ => record(r.entity, "U", r.id, r.afterVer, r.beforeVer)
    }
  })

  private def record(e: String, op: String, id: Long, before: Int,
      after: Int): CdcRecord = {
    versions(e)(id.toInt) = after
    seq += 1
    CdcRecord(e, op, id, before, after, seq)
  }

  /** Adds the redeliveries and shuffles; `fresh` becomes the batch the
    * next one redelivers from. */
  private def send(fresh: Seq[CdcRecord]): Seq[CdcRecord] = {
    val redeliveries = math.round(
      fresh.size * RedeliveryShare / (1 - RedeliveryShare)).toInt
    val redelivered = Seq.fill(redeliveries)(
      previous(rnd.nextInt(previous.size)))
    previous = fresh.toIndexedSeq
    shuffle(fresh ++ redelivered)
  }

  /** A Zipf-hot live key not yet touched in this batch. */
  private def hotLiveKey(e: String,
      touched: mutable.Set[Long]): Option[Long] =
    Iterator.continually(Gen.zipfId(rnd.nextDouble(), versions(e).size))
      .take(64)
      .find(id => versions(e)(id.toInt) >= 0 && !touched(id))
      .map { id => touched += id; id }

  private def shuffle(xs: Seq[CdcRecord]): Seq[CdcRecord] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

object CdcFeed {
  val Entities: Seq[String] = Seq("customer", "policy", "claim")
  val Share = 0.003
  val InsertShare = 0.2
  val DeleteShare = 0.15
  val RedeliveryShare = 0.1
}
