package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

/** Connected components is the cluster-resolution step behind near-dup
  * dedup: pairs → components → one keeper per component. The invariants
  * that matter: correct labels on chains (worst-case diameter), component
  * separation, indifference to edge direction/multiplicity/partitioning,
  * and a sane empty-input result. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, Long] =
    GraphOps.connectedComponents(
      edges.toDF("src", "dst").repartition(parts), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain collapses to the min id (diameter = n rounds)") {
    val got = comps((1L to 12L).sliding(2).map(p => (p.head, p.last)).toSeq)
    assert(got === (1L to 12L).map(_ -> 1L).toMap)
  }

  test("disjoint components keep distinct min labels") {
    val got = comps(Seq((5L, 2L), (2L, 9L), (30L, 40L), (41L, 40L), (100L, 100L)))
    assert(got === Map(2L -> 2L, 5L -> 2L, 9L -> 2L,
      30L -> 30L, 40L -> 30L, 41L -> 30L, 100L -> 100L))
  }

  test("edge direction and duplicate edges do not change the labeling") {
    val base = comps(Seq((1L, 2L), (2L, 3L)))
    val noisy = comps(Seq((2L, 1L), (3L, 2L), (1L, 2L), (1L, 2L), (2L, 3L)))
    assert(noisy === base)
  }

  test("labeling is invariant to input partitioning") {
    val edges = (1L to 50L).map(i => (i, i % 7 + 1000L))
    assert(comps(edges, parts = 1) === comps(edges, parts = 13))
  }

  test("empty edge list yields an empty labeling, not a crash") {
    assert(comps(Seq.empty) === Map.empty[Long, Long])
  }

  test("active set contracts: per-round edge input shrinks to zero on a chain") {
    val counts = scala.collection.mutable.Buffer.empty[Long]
    val labels = GraphOps.connectedComponents(
      (1L to 64L).sliding(2).map(p => (p.head, p.last)).toSeq.toDF("src", "dst"),
      "src", "dst", edgeCounts = counts, contractFrom = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === (1L to 64L).map(_ -> 1L).toMap)
    // Monotone non-increasing (round 1 contracts by its starting self-labels,
    // so shrinkage begins at round 2), strictly below the full set from
    // round 2 on, and empty by convergence — the full-edge join never recurs.
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"active-edge counts not monotone: $counts")
    assert(counts.head <= 2 * 63 && counts(1) < 2 * 63,
      s"active set did not contract: $counts")
    assert(counts.last === 0L, s"active set not drained at convergence: $counts")
  }

  test("contraction keeps stranded representatives reachable (drop-only regression)") {
    // Adversarial shape for naive same-label-edge DROPPING: after round 2,
    // nodes 2, 6, 7 all carry label 2 while the global min 1 is still
    // propagating up the 9-8-7 tail. Dropping (2,6)/(6,7) at that point
    // strands representative 2 — it never learns 1, and 6 follows it.
    // Contraction instead rewrites (6,7) to the representative edge (2,1),
    // which keeps relaxing. The validation join would catch any residue.
    // contractFrom = 0 forces the contracted path this test targets.
    val got = GraphOps.connectedComponents(
      Seq((2L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 1L)).toDF("src", "dst"),
      "src", "dst", contractFrom = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 6L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 1L))
  }

  test("a graph that stabilizes exactly at round maxIters still converges") {
    val edges = (1L to 32L).sliding(2).map(p => (p.head, p.last)).toSeq
    val counts = scala.collection.mutable.Buffer.empty[Long]
    GraphOps.connectedComponents(edges.toDF("src", "dst"), "src", "dst",
      edgeCounts = counts)
    val labelChangingRounds = counts.length - 1 // last round is the confirmation
    // maxIters = exactly the label-changing rounds must succeed (the
    // confirming round rides the +1), one fewer must fail.
    val exact = GraphOps.connectedComponents(
      edges.toDF("src", "dst"), "src", "dst", maxIters = labelChangingRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact === (1L to 32L).map(_ -> 1L).toMap)
    assertThrows[IllegalArgumentException] {
      GraphOps.connectedComponents(
        edges.toDF("src", "dst"), "src", "dst", maxIters = labelChangingRounds - 1)
    }
  }

  test("clusterKeepers reports one row per component with its size") {
    val cc = GraphOps.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst"), "src", "dst")
    val got = GraphOps.clusterKeepers(cc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 7L -> 2L))
  }

  test("reliable checkpoint strategy produces the same labeling and writes to the dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val edges = Seq((5L, 2L), (2L, 9L), (7L, 8L), (8L, 3L)).toDF("src", "dst")
      val reliable = GraphOps.connectedComponents(edges, "src", "dst",
          contractFrom = 0L, // exercise the contracted path's lazy checkpoint too
          checkpoint = GraphOps.CheckpointStrategy.Reliable(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable === Map(5L -> 2L, 2L -> 2L, 9L -> 2L, 7L -> 3L, 8L -> 3L, 3L -> 3L))
      assert(reliable === comps(Seq((5L, 2L), (2L, 9L), (7L, 8L), (8L, 3L))))
      // the rounds really persisted off-heap: the dir holds checkpoint data
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files written under $dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("incremental merge equals full recompute on random graphs (q111's equivalence)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2).distinct
      val (oldE, newE) = edges.splitAt(edges.size * 2 / 3)
      val full = comps(edges)
      val oldComps = GraphOps.connectedComponents(
        oldE.toDF("src", "dst"), "src", "dst")
      val merged = GraphOps.mergeComponents(oldComps, newE.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged === full, s"trial $trial: merge != recompute")
    }
  }

  test("merge with an empty standing labeling is a plain CC over the new edges") {
    val empty = GraphOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
    val merged = GraphOps.mergeComponents(
      empty, Seq((4L, 2L), (2L, 7L)).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === Map(4L -> 2L, 2L -> 2L, 7L -> 2L))
  }

  test("merge preserves singleton components the new edges do not touch") {
    // A standing labeling MAY contain singletons (node == comp with no
    // other member) if the caller registered isolated docs defensively;
    // they emit no star edge, so the merge must union them back rather
    // than silently dropping them. 50 is untouched (must survive as its
    // own component); 60 is joined by a new edge (must take the new label).
    val standing = Seq((1L, 1L), (2L, 1L), (50L, 50L), (60L, 60L))
      .toDF("node", "comp")
    val merged = GraphOps.mergeComponents(
      standing, Seq((60L, 3L)).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === Map(1L -> 1L, 2L -> 1L, 50L -> 50L, 3L -> 3L, 60L -> 3L))
  }

  test("repeated invocations do not accumulate iteration caches") {
    // Each call persists e + und + one localCheckpoint per round (~12 RDDs
    // for this graph); all but the checkpointed result must be released on
    // return. The count is SparkContext-global and other suites run
    // concurrently against the shared session, so the bound is loose:
    // 5 calls of a LEAKING loop add ≥ 50 persistent RDDs, 5 clean calls
    // add ≤ 5 results (until GC) + concurrent-suite noise.
    comps(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach(_ => comps(Seq((1L, 2L), (2L, 3L), (3L, 4L))))
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before < 25, s"persistent RDDs grew $before -> $after over 5 calls")
  }

  test("an iterative call leaves only its result's blocks behind") {
    // Superseded rounds must be freed by the operator, not left to the
    // ContextCleaner (which reclaims an unreferenced checkpoint only when
    // a GC happens to notice it, so a loose count over several calls can
    // miss a leak): right after a call, the only new persistent RDDs are
    // the checkpoint the returned plan reads.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    Seq[() => org.apache.spark.sql.DataFrame](
      () => GraphOps.connectedComponents(edges, "s", "d"),
      () => GraphOps.pageRankFixedPoint(edges, "s", "d", iters = 10)).foreach { call =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = call()
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left === graft.engine.Materialize.backingRdds(out).map(_.id).toSet)
      assert(out.count() === 4)
    }
  }

  test("pageRankFixedPoint: an empty edge list refuses and leaves nothing cached") {
    val e = Seq.empty[(Long, Long)].toDF("s", "d")
    val err = intercept[IllegalArgumentException] {
      GraphOps.pageRankFixedPoint(e, "s", "d", iters = 2)
    }
    assert(err.getMessage.contains("at least one edge"))
    // The operator's persisted edge list and node set, rebuilt: no cache
    // entry may match them once the refusal has propagated.
    val held = e.select(col("s").cast("long").as("src"), col("d").cast("long").as("dst"))
    val nodes = held.select(col("src").as("id")).union(held.select(col("dst").as("id"))).distinct()
    Seq(held, nodes).foreach { df =>
      assert(spark.sharedState.cacheManager
        .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
    }
  }

  test("pageRankFixedPoint: hand case — sink accumulates, dangling mass redistributes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 0 -> 1, 0 -> 2, 1 -> 2; node 2 is DANGLING (no out-edges).
    // Micro-units, damping 85%. Iteration 1 from R = (1e6, 1e6, 1e6):
    //   dang = 1e6 (node 2), dangShare = 1e6 DIV 3 = 333333
    //   shares: node0 od=2 -> 500000 to each of 1,2; node1 od=1 -> 1e6 to 2
    //   R'(0) = 150000 + 85*(0       + 333333) DIV 100 = 433333
    //   R'(1) = 150000 + 85*(500000  + 333333) DIV 100 = 858333
    //   R'(2) = 150000 + 85*(1500000 + 333333) DIV 100 = 1708333
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("s", "d")
    val r1 = GraphOps.pageRankFixedPoint(e, "s", "d", iters = 1)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(r1 === Seq((0L, 433333L), (1L, 858333L), (2L, 1708333L)))
    // Iteration 2 by the same hand arithmetic:
    //   dang = 1708333, dangShare = 569444
    //   shares: node0 -> 216666 each; node1 -> 858333 to 2
    //   R'(0) = 150000 + 85*(0 + 569444) DIV 100            = 634027
    //   R'(1) = 150000 + 85*(216666 + 569444) DIV 100       = 818193
    //   R'(2) = 150000 + 85*(216666+858333+569444) DIV 100  = 1547776
    val r2 = GraphOps.pageRankFixedPoint(e, "s", "d", iters = 2)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(r2 === Seq((0L, 634027L), (1L, 818193L), (2L, 1547776L)))
    // determinism under partitioning: 1-partition and 7-partition inputs agree
    val r2rep = GraphOps.pageRankFixedPoint(e.repartition(7), "s", "d", iters = 2)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(r2rep === r2)
    // total mass stays near N * 1e6 (floor-division leak strictly bounded)
    assert(math.abs(r2.map(_._2).sum - 3000000L) < 100L)
    intercept[IllegalArgumentException] {
      GraphOps.pageRankFixedPoint(e, "s", "d", iters = 0)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRankFixedPoint(e, "s", "d", iters = 1, dampingPct = 101)
    }
  }

  test("leakproofSplit: no candidate pair ever straddles a split; doc-level hashing does leak") {
    import graft.operators.CurationOps
    // 40 dup pairs (2k, 2k+1) plus 20 singletons: enough ids that doc-level
    // md5 hashing provably separates at least one pair.
    val pairs = (0L until 40L).map(k => (2 * k, 2 * k + 1)).toDF("a_id", "b_id")
    val docs = (0L until 100L).toDF("doc_id")
    val comps = GraphOps.connectedComponents(pairs, "a_id", "b_id")
    val cuts = Seq("train" -> 80, "valid" -> 90, "test" -> 100)
    val safe = GraphOps.leakproofSplit(docs, "doc_id", comps, cuts)
    // every member of a component carries the component label as rep_id,
    // singletons their own id
    val byDoc = safe.as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(byDoc.size === 100)
    (0L until 40L).foreach { k =>
      assert(byDoc(2 * k)._1 === 2 * k && byDoc(2 * k + 1)._1 === 2 * k)
      assert(byDoc(2 * k)._2 === byDoc(2 * k + 1)._2, s"pair $k split apart")
    }
    (80L until 100L).foreach(i => assert(byDoc(i)._1 === i))
    // audit contract: zero off-diagonal mass under the safe assignment...
    val audit = CurationOps.pairSplitAudit(pairs,
      safe.select(col("doc_id"), col("split")))
    val offDiag = audit.filter(col("split_lo") =!= col("split_hi"))
      .agg(coalesce(sum(col("n_pairs")), lit(0L))).head.getLong(0)
    assert(offDiag === 0L)
    // ...and strictly positive leak under plain doc-level hashing
    val docSplit = docs.select(col("doc_id"),
      CurationOps.hashSplit(col("doc_id"), cuts).as("split"))
    val leaky = CurationOps.pairSplitAudit(pairs, docSplit)
      .filter(col("split_lo") =!= col("split_hi"))
      .agg(coalesce(sum(col("n_pairs")), lit(0L))).head.getLong(0)
    assert(leaky > 0L, "fixture too small to demonstrate doc-level leakage")
  }

  test("evalQuarantine: one trained member taints its whole eval cluster; train clusters and clean eval keep") {
    // new assignment: cluster 10 -> test (docs 1,2,5), cluster 20 -> train
    // (doc 3), cluster 30 -> valid (doc 4); history: 1 was trained, 3 was
    // trained, 4 was valid; 2's history is eval, 5 is fresh (no history).
    val assigned = Seq(
      (1L, 10L, "test"), (2L, 10L, "test"), (5L, 10L, "test"),
      (3L, 20L, "train"), (4L, 30L, "valid"))
      .toDF("doc_id", "rep_id", "split")
    val old = Seq((1L, "train"), (2L, "test"), (3L, "train"), (4L, "valid"))
      .toDF("doc_id", "old_split")
    val got = GraphOps.evalQuarantine(assigned, "doc_id", old)
      .as[(Long, Long, String, String, String)].collect().sortBy(_._1)
    // doc 1's training history quarantines 2 and 5 with it — the taint is
    // cluster-level, including the fresh doc with no history of its own
    assert(got.map(r => r._1 -> r._5).toSeq === Seq(
      1L -> "quarantine_to_train", 2L -> "quarantine_to_train",
      3L -> "keep", 4L -> "keep", 5L -> "quarantine_to_train"))
    assert(got.find(_._1 == 5L).get._3 === "none") // fresh doc surfaces as such
    // remove the taint: same clusters, no trained history in cluster 10
    val clean = GraphOps.evalQuarantine(assigned, "doc_id",
        Seq((1L, "test"), (2L, "test")).toDF("doc_id", "old_split"))
      .as[(Long, Long, String, String, String)].collect()
    assert(clean.forall(_._5 === "keep"))
  }

  test("leakproofSplit/evalQuarantine refuse duplicate-id inputs loudly (round-11 advice)") {
    def messageChain(t: Throwable): String =
      Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val docs = (0L until 10L).toDF("doc_id")
    val cuts = Seq("train" -> 80, "valid" -> 90, "test" -> 100)
    // a duplicate components.node row would fan the id-join out and
    // duplicate that doc in every downstream split count — refused by name
    val badComps = Seq((1L, 0L), (1L, 5L), (2L, 0L)).toDF("node", "comp")
    val e1 = intercept[Exception] {
      GraphOps.leakproofSplit(docs, "doc_id", badComps, cuts).collect()
    }
    assert(messageChain(e1).contains("one row per node"))
    // the well-formed labeling still passes through the guard unchanged
    val ok = GraphOps.leakproofSplit(docs, "doc_id",
      Seq((1L, 0L), (2L, 0L)).toDF("node", "comp"), cuts)
    assert(ok.count() === 10L)
    // duplicate oldSplits.id: the historical fact table is one row per id
    val assigned = Seq((1L, 10L, "test"), (2L, 10L, "test"))
      .toDF("doc_id", "rep_id", "split")
    val badOld = Seq((1L, "train"), (1L, "test")).toDF("doc_id", "old_split")
    val e2 = intercept[Exception] {
      GraphOps.evalQuarantine(assigned, "doc_id", badOld).collect()
    }
    assert(messageChain(e2).contains("one row per id"))
  }
}
