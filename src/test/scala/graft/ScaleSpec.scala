package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.MaterializationQueries.contentWitness

/** Pins the scale amplifier's semantics ([[Scale.amplify]]) — the
  * foundation every SCALE.md invariant stands on. If amplification itself
  * were wrong (an id column missed, a non-id column shifted, replicas
  * overlapping), the ×k "ground truth" laws would be asserting garbage.
  */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val base = Seq(
    (0L, 10L, "a", 1.5), (1L, 10L, "b", -2.0), (2L, 20L, "a", 0.0))
    .toDF("id", "grp", "s", "v")

  test("amplify: k disjoint copies, id columns shifted, payload identical") {
    val k = 3
    val amp = Scale.amplify(base, k, Seq("id", "grp"))
    assert(amp.count() === base.count() * k)
    // Every replica r, projected back by subtracting r·Offset, is the
    // original frame exactly (multiset witness equality).
    val w0 = contentWitness(base)
    (0 until k).foreach { r =>
      val lo = r * Scale.Offset
      val replica = amp
        .filter(col("id") >= lo && col("id") < lo + Scale.Offset)
        .select((col("id") - lo).as("id"), (col("grp") - lo).as("grp"),
          col("s"), col("v"))
      assert(contentWitness(replica) === w0, s"replica $r must be the original")
    }
    // Non-id columns never shift: the global multiset of payloads is the
    // original's, k times over.
    assert(contentWitness(amp.select("s", "v")) ===
      ((w0._1 * k, contentWitness(base.select("s", "v"))._2 * k)))
    // Shifted ids stay unique across replicas (disjointness).
    assert(amp.select("id").distinct().count() === base.count() * k)
  }

  test("amplify: k = 1 is the identity") {
    assert(contentWitness(Scale.amplify(base, 1, Seq("id"))) ===
      contentWitness(base))
  }

  test("projected witness law: disjoint-copy operators scale by exactly k") {
    // The law the harness leans on, demonstrated end-to-end on a real
    // operator at toy scale: exact dedup over k shifted replicas keeps
    // the ×1 survivor set (replica 0 holds the minimal ids), and a
    // groupBy aggregate over id-projected copies scales its witness ×k.
    val k = 4
    val docs = Seq((0L, "x"), (1L, "y"), (2L, "x")).toDF("id", "text")
    val amp = Scale.amplify(docs, k, Seq("id"))
    val surv1 = graft.dedup.Dedup.exact(docs, Seq("text"), Seq(col("id")))
    val survK = graft.dedup.Dedup.exact(amp, Seq("text"), Seq(col("id")))
    assert(contentWitness(survK) === contentWitness(surv1))
    val agg1 = contentWitness(
      docs.groupBy("text").agg(count(lit(1)).as("n")))
    val aggK = contentWitness(
      amp.select((col("id") % Scale.Offset).as("id"), col("text"))
        .groupBy("text").agg((count(lit(1)) / k).cast("long").as("n")))
    assert(aggK === agg1)
  }
}
