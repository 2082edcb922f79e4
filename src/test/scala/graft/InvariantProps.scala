package graft

import graft.operators.{DedupOps, EtlOps}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck property tests (SURVEY §5.3): invariants that must hold for
  * every input, not just the fixtures. */
object InvariantProps extends Properties("graft") {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val tripGen: Gen[List[(Long, Long, Double)]] = for {
    nTrips <- Gen.choose(1, 4)
    rows <- Gen.listOfN(nTrips, for {
      trip <- Gen.choose(1L, 5L)
      n <- Gen.choose(1, 6)
      ts <- Gen.listOfN(n, Gen.choose(0L, 1000L))
      ms <- Gen.listOfN(n, Gen.choose(0.0, 10000.0))
    } yield ts.zip(ms).map { case (t, m) => (trip, t, m) })
  } yield rows.flatten

  property("W1/W2: speed derivation preserves row count per trip") =
    Prop.forAll(tripGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("trip", "t", "m")
        val out = EtlOps.deriveSpeed(df, col("trip"), Seq(col("t"), col("m")), col("m"), col("t").cast("double"))
        out.count() == rows.size &&
          out.groupBy("trip").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
            rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      }
    }

  property("W1: singleton trips always have NULL speed") =
    Prop.forAll(Gen.choose(0L, 100L), Gen.choose(0.0, 100.0)) { (t, m) =>
      val df = List((1L, t, m)).toDF("trip", "t", "m")
      EtlOps.deriveSpeed(df, col("trip"), Seq(col("t")), col("m"), col("t").cast("double"))
        .filter(col("speed").isNull).count() == 1L
    }

  property("J2: upsert twice == upsert once (idempotence)") =
    Prop.forAll(Gen.listOf(Gen.choose(1L, 10L)), Gen.listOf(Gen.choose(1L, 10L))) { (ex, in) =>
      val existing = ex.map(k => (k, s"e$k")).toDF("k", "v")
      val incoming = in.map(k => (k, s"i$k")).toDF("k", "v")
      val once = EtlOps.upsertNewKeys(incoming, existing, Seq("k"))
      val merged = existing.union(once)
      EtlOps.upsertNewKeys(incoming, merged, Seq("k")).count() == 0L
    }

  property("U1: UNION ALL row counts are additive") =
    Prop.forAll(Gen.listOf(Gen.choose(0, 100)), Gen.listOf(Gen.choose(0, 100))) { (a, b) =>
      val da = a.toDF("x"); val db = b.toDF("x")
      da.union(db).count() == a.size + b.size
    }

  property("as-of join equals the naive latest-predecessor lookup") =
    Prop.forAll(
      Gen.listOf(Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L))),
      Gen.listOf(Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L)))) { (ls, rs) =>
      ls.isEmpty || {
        // unique right (k,t) with value = t*10 (mirrors the op's uniqueness precondition)
        val rightRows = rs.distinct.map { case (k, t) => (k, t, t * 10L) }
        val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "t", "lid")
        val right = rightRows.toDF("k", "rt", "rv")
        val got = graft.operators.JoinOps
          .asofJoinBackward(left, right, "k", "t", "rt", Seq("rv"))
          .select(col("lid"), col("rv_asof")).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
        val naive = ls.zipWithIndex.map { case ((k, t), i) =>
          val preds = rightRows.filter(r => r._1 == k && r._2 <= t)
          i.toLong -> (if (preds.isEmpty) -1L else preds.maxBy(_._2)._3)
        }.toMap
        got == naive
      }
    }

  property("X1: exact dedup groups partition the input (sum of n_copies == row count)") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.oneOf("aa", "bb", "cc", "dd"))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val groups = DedupOps.exactDedupGroups(df, col("doc_id"), col("text"))
      groups.agg(sum("n_copies")).as[Long].head() == texts.size.toLong
    }

  property("X7: packing partitions every doc; chunk mass < budget + its own last doc") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1L, 500L)), Gen.choose(100, 1000)) {
      (tokens, budget) =>
        val df = tokens.zipWithIndex.map { case (tok, i) => (i.toLong, tok) }.toDF("id", "tok")
        val packed = graft.operators.CurationOps
          .packSequences(df, lit("g"), col("id"), col("tok"), budget)
          .select(col("id"), col("chunk_id"), col("n_tokens"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val covered = packed.length == tokens.size // every doc lands in exactly one chunk
        // Start-offset binning: a chunk's mass exceeds the budget by at most
        // the mass of its last doc (the only one allowed to straddle).
        val massBound = packed.groupBy(_._2).values.forall { chunk =>
          val mass = chunk.map(_._3).sum
          val last = chunk.maxBy(_._1)._3
          mass - last < budget
        }
        // chunk ids are dense from 0 in doc order (no empty chunks skipped
        // backwards): monotone non-decreasing along the order column
        val monotone = packed.sortBy(_._1).map(_._2).sliding(2)
          .forall(w => w.length < 2 || w(0) <= w(1))
        covered && massBound && monotone
    }

  property("X4: subword tokenization is lossless — tokens concatenate back to the words") =
    Prop.forAll(Gen.listOf(Gen.nonEmptyListOf(
        Gen.oneOf('a', 'b', 'c', 't', 'h', 'e', ' ')).map(_.mkString))) { texts =>
      texts.isEmpty || {
        // greedy longest-match with char fallback must consume every
        // non-space character exactly once, in order — whatever the vocab
        val vocab = Seq("the", "th", "ab", "bc", "cab")
        val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text")
          .select(col("id"), graft.operators.TextOps.subwordTokenize(col("text"), vocab))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        texts.zipWithIndex.forall { case (t, i) =>
          got(i.toLong).mkString("") == t.replace(" ", "")
        }
      }
    }

  property("X2/X3: OR-ed multi-table near-dup pairs contain every single-table pair") =
    Prop.secure {
      // Fixed-seed batch (same rationale as the CC property below): each
      // case pays several distributed joins.
      val rng = new scala.util.Random(777L)
      import graft.operators.{DedupOps => D, SimilarityOps => S}
      (1 to 6).forall { _ =>
        val emb = (0L until 30L).map { i =>
          (i, Array.fill(16)(rng.nextGaussian()), (i % 2).toInt)
        }.toDF("vec_id", "embedding", "label")
        val tables = S.lshTables(3, 2, 16, seed = rng.nextLong())
        def pairs(ts: Seq[Seq[Seq[Double]]]) =
          D.embeddingNearDups(emb, "vec_id", col("embedding"), col("label"), 0.1, ts)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val all = pairs(tables)
        tables.forall(t => pairs(Seq(t)).subsetOf(all))
      }
    }

  property("X2: default-policy nearDupCandidates never fabricates a pair (candidates " +
    "share a surviving shingle) and the verified form never exceeds the candidates") =
    Prop.secure {
      // On ANY corpus, a banded minhash collision implies both docs contain
      // the shingle achieving the band's minima, so default-policy
      // candidates must be a subset of the corpus-wide shared-shingle pair
      // set — the generator can MISS (that's the S-curve trade) but never
      // invent. And the one-call verified form must be a subset of its own
      // candidate pool with Jaccard from the FULL sets. Fixed-seed batch:
      // each case pays three distributed joins.
      val rng = new scala.util.Random(101L)
      import graft.operators.TextOps
      (1 to 6).forall { _ =>
        val n = rng.nextInt(8) + 3
        val docs = (1L to n.toLong).map { i =>
          (i, List.fill(rng.nextInt(10) + 3)("abcde".charAt(rng.nextInt(5)).toString)
            .mkString(" "))
        }
        val sh = TextOps.shingleRows(docs.toDF("doc_id", "text"),
          col("doc_id"), lit("all"), col("text"))
        def pairSet(df: org.apache.spark.sql.DataFrame) =
          df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
        val shared = pairSet(DedupOps.jaccardPairsFromRows(sh))
        val cand = pairSet(DedupOps.nearDupCandidates(sh))
        val verified = pairSet(DedupOps.nearDupVerifiedPairs(sh, minJaccard = 0.0))
        cand.subsetOf(shared) && verified.subsetOf(cand)
      }
    }

  property("X7: canonicalizeUrl is a fixpoint and leaves no tracking params on ANY structured URL") =
    Prop.secure {
      // Random URLs assembled from the grammar the canonicalizer handles:
      // mixed-case scheme/host, optional default/non-default port, path
      // segments with optional trailing slashes, shuffled params (real +
      // tracking + empty), optional fragment. Canonicalization must be
      // idempotent, lowercase scheme+host, keep non-default ports, and
      // emit params sorted with tracking/empties gone.
      val rng = new scala.util.Random(404L)
      import graft.operators.TextOps
      val urls = (1 to 40).map { _ =>
        val scheme = Seq("http", "HTTP", "https", "HTTPS")(rng.nextInt(4))
        val host = Seq("Host.Example.COM", "a.b.org", "X.Y")(rng.nextInt(3))
        val port = Seq("", ":443", ":80", ":8080")(rng.nextInt(4))
        val path = (0 until rng.nextInt(3)).map(i => s"/P$i").mkString +
          (if (rng.nextBoolean()) "/" else "")
        // shuffle BEFORE take: subsets must cover tracking-only and
        // empty-only combinations, not just prefixes of the fixed Seq
        val params = rng.shuffle(Seq("a=1", "z=9", "utm_source=t", "gclid=g", ""))
          .take(rng.nextInt(5) + 1).mkString("&")
        val frag = if (rng.nextBoolean()) "#Frag" else ""
        s"$scheme://$host$port$path" + (if (params.nonEmpty) s"?$params" else "") + frag
      }
      val out = urls.toDF("u")
        .select(col("u"), TextOps.canonicalizeUrl(col("u")).as("c1"))
        .withColumn("c2", TextOps.canonicalizeUrl(col("c1")))
        .as[(String, String, String)].collect()
      out.forall { case (u, c1, c2) =>
        val fixpoint = c1 == c2
        val noTracking = !c1.contains("utm_") && !c1.contains("gclid")
        val noFragment = !c1.contains("#")
        val schemeHostLower = {
          val prefix = c1.takeWhile(_ != '?')
          prefix.takeWhile(_ != '/') == prefix.takeWhile(_ != '/').toLowerCase &&
            c1.matches("^[a-z][a-z0-9+.-]*://[^/?]+.*")
        }
        val sortedParams = {
          val qi = c1.indexOf('?')
          qi < 0 || { val ps = c1.substring(qi + 1).split("&").toSeq
            ps == ps.sorted && ps.forall(_.nonEmpty) }
        }
        val r = fixpoint && noTracking && noFragment && schemeHostLower && sortedParams
        if (!r) println(s"URL property failed: '$u' -> '$c1' -> '$c2'")
        r
      }
    }

  property("X7: groupedExactMedian equals the sorted-sequence median (quantile_cont 0.5) per group") =
    Prop.secure {
      // The counts+prefix-sum median must agree with the naive definition
      // (avg of the two middle order statistics) on ANY multiset, odd or
      // even counts, ties included. Fixed-seed batch: one distributed pass
      // per case.
      val rng = new scala.util.Random(202L)
      import graft.operators.CurationOps
      (1 to 6).forall { _ =>
        val rows = (1 to rng.nextInt(40) + 1).map { _ =>
          (s"g${rng.nextInt(3)}", rng.nextInt(8).toDouble)
        }
        val got = CurationOps.groupedExactMedian(rows.toDF("g", "v"), "g", col("v"))
          .as[(String, Double)].collect().toMap
        val want = rows.groupBy(_._1).map { case (g, vs) =>
          val s = vs.map(_._2).sorted
          val n = s.size
          g -> (s((n - 1) / 2) + s(n / 2)) / 2d
        }
        got == want
      }
    }

  property("X7: groupedExactQuantiles equals naive quantile_cont interpolation for every p") =
    Prop.secure {
      // pos = p·(n−1), linear interpolation between adjacent order
      // statistics — must hold on ANY multiset for p at, between, and on
      // the boundaries of rank positions.
      val rng = new scala.util.Random(303L)
      import graft.operators.CurationOps
      val ps = Seq("q0" -> 0.0, "q25" -> 0.25, "q33" -> 1.0 / 3, "q75" -> 0.75, "q1" -> 1.0)
      (1 to 5).forall { _ =>
        val rows = (1 to rng.nextInt(30) + 1).map { _ =>
          (s"g${rng.nextInt(3)}", rng.nextInt(9).toDouble)
        }
        val got = CurationOps.groupedExactQuantiles(rows.toDF("g", "v"), "g", col("v"), ps)
          .collect().map(r => r.getString(0) -> ps.indices.map(i => r.getDouble(i + 1))).toMap
        val want = rows.groupBy(_._1).map { case (g, vs) =>
          val s = vs.map(_._2).sorted
          g -> ps.map { case (_, p) =>
            val pos = p * (s.size - 1)
            val lo = s(math.floor(pos).toInt)
            val hi = s(math.ceil(pos).toInt)
            lo + (pos - math.floor(pos)) * (hi - lo)
          }
        }
        got == want
      }
    }

  property("X2: pair-list verify equals the corpus-wide jaccard join restricted to those pairs") =
    Prop.secure {
      // jaccardVerifyPairs must report, for every OFFERED pair, exactly the
      // (n_common, a_size, b_size, jaccard) the corpus-wide shared-shingle
      // join computes — and nothing for pairs it wasn't offered. Random
      // corpora over a 4-word alphabet (heavy shingle collisions) and random
      // candidate masks, including docs too short to shingle (such pairs
      // must vanish on both sides). Fixed-seed batch: each case pays the
      // corpus-wide join AND the verify pipeline.
      val rng = new scala.util.Random(20260814L)
      import graft.operators.TextOps
      (1 to 8).forall { _ =>
        val n = rng.nextInt(5) + 2
        val docs = (1L to n.toLong).map { i =>
          (i, List.fill(rng.nextInt(8) + 1)("abcd".charAt(rng.nextInt(4)).toString).mkString(" "))
        }
        val cand = (for { a <- 1L to n.toLong; b <- (a + 1) to n.toLong if rng.nextBoolean() }
          yield (a, b)).toList
        cand.isEmpty || {
          val sh = TextOps.shingleRows(docs.toDF("doc_id", "text"),
            col("doc_id"), lit("all"), col("text"))
          def tuples(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
            (r.getLong(0), r.getLong(1)) ->
              ((r.getAs[Long]("n_common"), r.getAs[Long]("a_size"),
                r.getAs[Long]("b_size"), r.getAs[Double]("jaccard")))
          }.toMap
          val ref = tuples(DedupOps.jaccardPairsFromRows(sh)
            .select("a_id", "b_id", "n_common", "a_size", "b_size", "jaccard"))
          val got = tuples(DedupOps.jaccardVerifyPairs(cand.toDF("a_id", "b_id"), sh, 0.0)
            .select("a_id", "b_id", "n_common", "a_size", "b_size", "jaccard"))
          got == ref.view.filterKeys(cand.toSet).toMap
        }
      }
    }

  property("X8: contracted CC labels equal uncontracted CC labels on any graph") =
    Prop.secure {
      // The contraction rewrite must never change the RESULT, only the
      // per-round join volume — the two paths are the same algorithm at
      // different thresholds. Random multigraphs with self-loops and both
      // edge directions probe the stranded-representative class of bug the
      // GraphOpsSpec regression pins down deterministically. Fixed-seed
      // batch rather than forAll: one case costs two full CC runs (~3 s of
      // fixed per-round scheduling), so 100 shrinkable cases would dominate
      // the whole suite's runtime for no added coverage.
      val rng = new scala.util.Random(20260812L)
      (1 to 12).forall { _ =>
        val edges = List.fill(rng.nextInt(24) + 1)(
          (rng.between(1L, 17L), rng.between(1L, 17L)))
        val df = edges.toDF("src", "dst")
        def labelsOf(contractFrom: Long) = graft.operators.GraphOps
          .connectedComponents(df, "src", "dst", contractFrom = contractFrom)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        labelsOf(Long.MaxValue) == labelsOf(0L)
      }
    }

  property("X8: incremental star-edge merge equals full recompute on any edge split") =
    Prop.secure {
      // q111's contract: CC(stars(CC(old)) ∪ fresh) must be BIT-IDENTICAL
      // to CC(old ∪ fresh) — for any graph and any old/fresh split,
      // including splits where fresh edges bridge old components and
      // where fresh introduces brand-new nodes. Fixed-seed batch for the
      // same runtime reason as the contraction property (three CC runs
      // per case).
      val rng = new scala.util.Random(20260813L)
      (1 to 8).forall { _ =>
        val edges = List.fill(rng.nextInt(30) + 2)(
          (rng.between(1L, 21L), rng.between(1L, 21L))).filter(e => e._1 != e._2)
        edges.nonEmpty && {
          val cut = rng.nextInt(edges.size)
          val (oldE, freshE) = edges.splitAt(cut)
          val G = graft.operators.GraphOps
          val full = G.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val merged = (if (oldE.isEmpty)
              G.connectedComponents(freshE.toDF("src", "dst"), "src", "dst")
            else G.mergeComponents(
              G.connectedComponents(oldE.toDF("src", "dst"), "src", "dst"),
              freshE.toDF("src", "dst"), "src", "dst"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          merged == full
        }
      }
    }

  property("X2: sorted-neighborhood emits exactly the closed-form pair set, in key order") =
    Prop.secure {
      // The generator's whole contract is the closed form: pairs =
      // Σ_{g=1..w−1} max(0, N−g), each (a, b) adjacent-within-window in
      // (key, id) order, regardless of how keys collide or how the
      // monotone bucket slices them. Fixed-seed batch (rank + join per
      // case); brute force recomputes the permutation in memory.
      val rng = new scala.util.Random(20260815L)
      (1 to 10).forall { _ =>
        val n = rng.nextInt(30) + 2
        val w = rng.nextInt(4) + 2
        val rows = (1L to n.toLong).map(id => (id, rng.between(0L, 40L)))
        val got = DedupOps.sortedNeighborhoodCandidates(
            rows.toDF("doc_id", "k"), "doc_id",
            expr("k DIV 4"), col("k"), window = w)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val perm = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
        val want = (for {
          i <- perm.indices; g <- 1 until w; if i + g < perm.size
        } yield (perm(i), perm(i + g), g.toLong)).toSet
        got == want && got.size == (1 until w).map(g => math.max(0, n - g)).sum
      }
    }

  property("X2: weighted Jaccard matches brute force, lives in [0,1], hits 1 iff equal multisets") =
    Prop.secure {
      val rng = new scala.util.Random(20260816L)
      (1 to 10).forall { _ =>
        // two random tf vectors over a tiny feature space, plus doc 3 as
        // an exact copy of doc 1 (the ==1 case must actually occur)
        def vec(): Map[String, Long] =
          (0 until rng.nextInt(5) + 1).map(i => s"f${rng.nextInt(6)}" -> rng.between(1L, 5L)).toMap
        val (va, vb) = (vec(), vec())
        val tfs = (va.toSeq.map { case (f, t) => (1L, "all", f, t) } ++
          vb.toSeq.map { case (f, t) => (2L, "all", f, t) } ++
          va.toSeq.map { case (f, t) => (3L, "all", f, t) })
          .toDF("doc_id", "bucket", "sh", "tf")
        val got = DedupOps.weightedJaccardVerifyPairs(
            Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id"),
            tfs.drop("bucket"), threshold = 0.0)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
        val keys = va.keySet ++ vb.keySet
        val inter = keys.toSeq.map(k => math.min(va.getOrElse(k, 0L), vb.getOrElse(k, 0L))).sum
        val union = keys.toSeq.map(k => math.max(va.getOrElse(k, 0L), vb.getOrElse(k, 0L))).sum
        val brute = math.rint(inter.toDouble / union * 1e6) / 1e6
        val ab = got((1L, 2L))
        ab == brute && ab >= 0.0 && ab <= 1.0 && got((1L, 3L)) == 1.0 &&
          (va != vb || ab == 1.0)
      }
    }

  property("A: folding mergeRollup over ANY batch split equals one rollupState pass") =
    Prop.secure {
      // q165's monoid law, quantified: for any rows and any partition into
      // 1..4 batches, left-folding mergeRollup over per-batch partial
      // states is bit-identical to the single-pass aggregate — the
      // incremental-refresh correctness claim for every refresh cadence,
      // not just the 80/20 split the oracle checks. Longs, so exact.
      val rng = new scala.util.Random(20260818L)
      (1 to 8).forall { _ =>
        val rows = List.fill(rng.nextInt(25) + 1)(
          (s"k${rng.nextInt(5)}", rng.between(-50L, 50L)))
        val nb = rng.nextInt(4) + 1
        val batches = rows.zipWithIndex.groupMap(_._2 % nb)(_._1).values.toList
        def state(rs: List[(String, Long)]) =
          EtlOps.rollupState(rs.toDF("k", "v"), Seq("k"), col("v"))
        def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toSet
        val folded = batches.tail.foldLeft(state(batches.head)) {
          (acc, b) => EtlOps.mergeRollup(acc, state(b), Seq("k"))
        }
        canon(folded) == canon(state(rows))
      }
    }

  property("X1: jackknife per-bucket stats are SUFFICIENT — closed form equals direct leave-one-out recomputation on any fp multiset") =
    Prop.forAll(Gen.listOf(Gen.zip(Gen.oneOf("s1", "s2"), Gen.choose(0, 12)))) { rows =>
      rows.isEmpty || {
        def md5hex(s: String): String = java.security.MessageDigest
          .getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val sample = "0123456789abcdef".take(8).map(_.toString)
        val data = rows.map { case (src, i) => (src, s"f$i") }
        val got = DedupOps.sampledDupRateJackknife(
            data.toDF("source", "fp"), col("source"), col("fp"), sample)
          .collect().map(r => r.getString(0) ->
            ((r.getLong(3), r.getDouble(4), r.getLong(5), r.getDouble(6)))).toMap
        data.groupBy(_._1).forall { case (src, rs) =>
          // direct recomputation on raw rows: distinct counts over each
          // leave-one-bucket-out SUBSET, no sufficiency assumption
          val sampled = rs.map(_._2).filter(f => sample.contains(md5hex(f).take(1)))
          val byB = sampled.groupBy(f => md5hex(f).take(1))
          val n = sampled.size.toLong
          val u = sampled.distinct.size.toLong
          val thetas = byB.keys.toSeq.flatMap { b =>
            val rest = sampled.filterNot(f => md5hex(f).take(1) == b)
            if (rest.nonEmpty) Some(1.0 - rest.distinct.size.toDouble / rest.size)
            else None
          }
          val est = if (n > 0) 1.0 - u.toDouble / n else 0.0
          val se = if (thetas.nonEmpty) {
            val tbar = thetas.sum / thetas.size
            math.sqrt((thetas.size - 1).toDouble / thetas.size *
              thetas.map(t => (t - tbar) * (t - tbar)).sum)
          } else 0.0
          val (gn, ge, gg, gs) = got(src)
          gn == n && gg == thetas.size.toLong &&
            math.abs(ge - est) <= 1e-6 && math.abs(gs - se) <= 1e-6
        }
      }
    }

  property("X8: leakproofSplit never puts two paired docs in different splits, on any graph") =
    Prop.forAll(
      Gen.listOf(Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 60L)))) { es =>
      es.isEmpty || es.forall(e => e._1 == e._2) || {
        import graft.operators.{CurationOps, GraphOps}
        val edges = es.filter(e => e._1 != e._2)
        val pairs = edges.toDF("a_id", "b_id")
        val docs = (0L to 60L).toDF("doc_id")
        val assigned = GraphOps.leakproofSplit(docs, "doc_id",
          GraphOps.connectedComponents(pairs, "a_id", "b_id"),
          Seq("train" -> 80, "valid" -> 90, "test" -> 100))
        CurationOps.pairSplitAudit(pairs,
            assigned.select(col("doc_id"), col("split")))
          .filter(col("split_lo") =!= col("split_hi")).count() == 0L
      }
    }

  property("J1: bloomReducedJoin equals the plain inner join on any key multiset") =
    Prop.secure {
      val rng = new scala.util.Random(20260817L)
      (1 to 8).forall { _ =>
        val big = List.fill(rng.nextInt(40) + 1)(
          (rng.between(0L, 30L), rng.nextLong())).toDF("k", "v")
        val small = List.fill(rng.nextInt(10) + 1)(
          (rng.between(0L, 60L), rng.nextInt(5).toString)).toDF("sk", "label")
        val got = graft.operators.JoinOps.bloomReducedJoin(big, "k", small, "sk")
          .select(col("k"), col("v"), col("label")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
        val plain = big.join(small, big("k") === small("sk"))
          .select(col("k"), col("v"), col("label")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
        got == plain
      }
    }
}
