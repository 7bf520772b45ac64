package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumns}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The RELEASE CONTRACT, asserted: every public operator that returns a
  * localCheckpoint-backed frame documents "result == handle" — consuming
  * the result and then `GraftColumns.unpersistCheckpoint(result)` must
  * leave NO RDD blocks behind beyond what existed before the call
  * (intermediates are the operator's job; the final checkpoint is the
  * caller's, released through the result). A lingering block per call is
  * the storage leak that kills long-lived sessions — each assertion here
  * diffs the persistent-RDD registry around a full use-and-release
  * cycle.
  */
class ReleaseContractSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def assertReleased(name: String)(run: => DataFrame): Unit = {
    val before = persistedIds
    val out = run
    out.count() // the caller consumes, then releases
    GraftColumns.unpersistCheckpoint(out)
    val leaked = persistedIds -- before
    assert(leaked.isEmpty,
      s"$name leaked persistent RDD(s) ${leaked.mkString(", ")} after " +
        "consuming and releasing its result")
  }

  // chain 0-1-2-3 + clique {10,11,12,13} + new-batch bridge candidates
  private def edges: DataFrame = Seq(
    (0L, 1L), (1L, 2L), (2L, 3L),
    (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L),
    (12L, 13L)).toDF("src", "dst")

  private def docs: DataFrame =
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60)

  private def emb: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet").limit(80)

  test("connectedComponents releases through its result") {
    assertReleased("connectedComponents") {
      GraphOps.connectedComponents(edges, "src", "dst")
    }
  }

  test("mergeComponents releases through its result (and not its inputs)") {
    val labels = GraphOps.connectedComponents(edges, "src", "dst")
      .toDF("id", "comp")
    val before = persistedIds
    val merged = GraphOps.mergeComponents(
      labels, Seq((3L, 10L)).toDF("a", "b"), "a", "b")
    merged.count()
    GraftColumns.unpersistCheckpoint(merged)
    assert((persistedIds -- before).isEmpty, "merge leaked blocks")
    // the caller's labels frame must still be readable (not released
    // by the merge) — the contract's "no caller-owned frame" clause
    assert(labels.count() === 8L)
    GraftColumns.unpersistCheckpoint(labels)
  }

  test("pageRank / labelPropagation / hits release through their results") {
    assertReleased("pageRank") {
      GraphOps.pageRank(edges, "src", "dst", iterations = 2)
    }
    assertReleased("labelPropagation") {
      GraphOps.labelPropagation(edges, "src", "dst", iterations = 2)
    }
    assertReleased("hits") {
      GraphOps.hits(edges, "src", "dst", iterations = 2)
    }
  }

  test("kCore / bfsHops / pathCounts / perSeedHops release through " +
       "their results") {
    assertReleased("kCore") {
      GraphOps.kCore(edges, "src", "dst", k = 3)
    }
    val seeds = Seq(0L).toDF("seed")
    assertReleased("bfsHops") {
      GraphOps.bfsHops(edges, "src", "dst", seeds, "seed", maxHops = 3)
    }
    assertReleased("pathCounts") {
      GraphOps.pathCounts(edges, "src", "dst", seed = "0", maxHops = 3)
    }
    assertReleased("perSeedHops") {
      GraphOps.perSeedHops(edges, "src", "dst", seeds, "seed", maxHops = 3)
    }
  }

  test("dedup pair generators release through their results") {
    assertReleased("containmentPairs") {
      Dedup.containmentPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
    }
    assertReleased("minhashDedupPairs") {
      Dedup.minhashDedupPairs(docs, "doc_id", "text", n = 3, num = 4, den = 5)
    }
    assertReleased("simhashPairs") {
      Dedup.simhashPairs(docs, "doc_id", "text")
    }
    assertReleased("jaccardPairs(capped)") {
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2,
                         maxBucketDocs = 8)
    }
    assertReleased("blockedSelfJoin") {
      Dedup.blockedSelfJoin(
        docs.select(col("doc_id").as("id"),
                    substring(col("text"), 0, 12).as("nm"),
                    lit("k").as("key")),
        "id", "nm", Seq("key"), maxDist = 2, bandWidth = 3)
    }
  }

  test("similarity / clustering operators release through their results") {
    assertReleased("semDedup") {
      Similarity.semDedup(emb, minSimE6 = 950000L, k = 4, dims = 64,
                          iters = 2)
    }
    assertReleased("pqTopK") {
      Similarity.pqTopK(emb, queryPred = col("vec_id") < 5, k = 3)
    }
    assertReleased("kmeansAssign") {
      Clustering.kmeansAssign(emb, "vec_id", "embedding", k = 4,
                              dims = 64, iters = 2)
    }
  }

  test("unpersistCheckpoint spares foreign (untagged) checkpoints " +
       "embedded in a released plan") {
    // A caller materializes their own frame with a PLAIN localCheckpoint
    // (untagged), then builds a graft-checkpointed result over it. The
    // release handle must drop ONLY the graft-created blocks: the
    // caller's checkpoint is not recomputable, so destroying it through
    // a plan they released would be silent data loss.
    import graft.GraftOps._
    val before = persistedIds
    val foreign = Seq((1L, "a"), (2L, "b")).toDF("id", "v").localCheckpoint()
    val mine = foreign.select(col("id"), upper(col("v")).as("v"))
      .graftCheckpoint()
    val combined = mine.join(foreign.select(col("id")), Seq("id"))
    combined.count()
    GraftColumns.unpersistCheckpoint(combined)
    // the graft checkpoint is gone, the foreign one survives and reads
    val kept = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
    assert(!kept.values.exists(_.name == GraftColumns.CheckpointTag),
      "tagged graft checkpoint not released")
    assert(foreign.count() === 2L,
      "caller-owned checkpoint was destroyed by the library release")
    foreign.unpersist()
  }

  test("materializedBytes sums every tagged checkpoint a hint reads") {
    import graft.GraftOps._
    val a = (0L until 200L).toDF("id").graftCheckpoint()
    val b = (0L until 300L).toDF("id").graftCheckpoint()
    try {
      val (na, nb) = (GraftColumns.materializedBytes(a),
                      GraftColumns.materializedBytes(b))
      assert(na > 0L && nb > 0L, s"blocks of each checkpoint: $na, $nb")
      assert(GraftColumns.materializedBytes(a.union(b)) === na + nb)
      // one checkpoint read twice is one set of blocks
      assert(GraftColumns.materializedBytes(a.union(a)) === na)
    } finally Seq(a, b).foreach(GraftColumns.unpersistCheckpoint)
  }

  test("media near-dup operators release their signature stores " +
       "through the result plan (deep traversal)") {
    val ids = (0L to 19L).toDF("doc_id")
    assertReleased("imageNearDupPairs") {
      Multimodal.imageNearDupPairs(
        spark, Multimodal.withPayload(spark, ids),
        madE6Max = 15000000L, hashBits = 4)
    }
    assertReleased("videoNearDupPairs") {
      Video.videoNearDupPairs(
        spark, Video.withDupPayload(spark, ids),
        stride = 4, vadE6Max = 8000000L)
    }
  }
}
