package graft.operators

import graft.SparkSpec

/** Sequence packing (concat-and-split): per-shard seq ids must equal a
  * sequential reference fold, and packing must parallelize across
  * shards (one keyed window). */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences equals the sequential concat-and-split reference") {
    val rnd = new scala.util.Random(19)
    // sparse, negative-spanning ids; uneven shards; zero-token docs
    val fuzzed = (0 until 500).map(_ => rnd.nextLong() % 100000L).distinct
      .map(i => (i, math.min(math.floorMod(i, 5L), 2L),
        if (rnd.nextInt(10) == 0) 0L else rnd.nextInt(900).toLong + 1))
    val inputs = Seq(
      (1L to 40L).map(i => (i, i % 3, 100L + (i % 7) * 50)) -> 512L,
      fuzzed -> 777L,
      Seq.empty[(Long, Long, Long)] -> 777L)
    for ((rows, budget) <- inputs) {
      val got = Packing.packSequences(rows.toDF("id", "shard", "toks"),
          $"shard", $"id", $"toks", budget)
        .select($"shard", $"id", $"seq_id").as[(Long, Long, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      // sequential reference: running token total per shard
      val want = rows.groupBy(_._2).flatMap { case (shard, docs) =>
        var before = 0L
        docs.sortBy(_._1).map { case (id, _, toks) =>
          val seq = before / budget
          before += toks
          (shard, id) -> seq
        }
      }
      assert(got == want, s"${rows.size} docs, budget $budget")
    }
  }

  test("seq ids are nondecreasing in pack order and sequences start under budget") {
    val docs = (1L to 100L).map(i => (i, 0L, 200L)).toDF("id", "shard", "toks")
    val rows = Packing.packSequences(docs, $"shard", $"id", $"toks", 1000L)
      .orderBy("id").select("seq_id").as[Long].collect()
    assert(rows.zip(rows.tail).forall { case (a, b) => a <= b })
    // 200-token docs into 1000-token budget: exactly 5 docs per sequence
    assert(rows.count(_ == 0L) == 5)
    assert(rows.max == 19L)
  }
}
