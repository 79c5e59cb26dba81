package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic-law property tests (SURVEY.md §5.3): engine results vs. a
  * Scala reference model on generated data. Deterministic: ScalaCheck
  * generators driven from a fixed seed (scalatestplus glue is not in the
  * offline cache, so sampling is done directly).
  */
class PropertySpec extends SparkSuite {

  /** Evaluate `body` over `n` deterministic samples of `g`. */
  private def forAll[A](g: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.apply(Gen.Parameters.default, Seed(42L + i)).get)
    }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 8)(body: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      body(
        ga.apply(Gen.Parameters.default, Seed(42L + i)).get,
        gb.apply(Gen.Parameters.default, Seed(1042L + i)).get)
    }

  private val smallLists = Gen.listOfN(30, Gen.chooseNum(0, 9))

  test("union / intersect / except agree with the Set model") {
    import spark.implicits._
    forAll2(smallLists, smallLists) { (xs: List[Int], ys: List[Int]) =>
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      val inter = a.intersect(b).as[Int].collect().toSet
      val exc = a.except(b).as[Int].collect().toSet
      val uni = a.union(b).distinct().as[Int].collect().toSet
      assert(inter == (xs.toSet & ys.toSet))
      assert(exc == (xs.toSet -- ys.toSet))
      assert(uni == (xs.toSet | ys.toSet))
    }
  }

  test("intersectAll / exceptAll agree with the multiset model") {
    import spark.implicits._
    forAll2(smallLists, smallLists) { (xs: List[Int], ys: List[Int]) =>
      def bag(l: Seq[Int]) = l.groupBy(identity).view.mapValues(_.size).toMap
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      val gotI = bag(a.intersectAll(b).as[Int].collect().toSeq)
      val wantI = (bag(xs) map { case (k, n) => k -> math.min(n, bag(ys).getOrElse(k, 0)) })
        .filter(_._2 > 0)
      assert(gotI == wantI)
      val gotE = bag(a.exceptAll(b).as[Int].collect().toSeq)
      val wantE = (bag(xs) map { case (k, n) => k -> (n - bag(ys).getOrElse(k, 0)) })
        .filter(_._2 > 0)
      assert(gotE == wantE)
    }
  }

  test("running window sum equals brute-force prefix sums") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    forAll(Gen.listOfN(25, Gen.chooseNum(-100, 100))) { (xs: List[Int]) =>
      val df = xs.zipWithIndex.toDF("v", "i")
      val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
      val got = df.withColumn("r", sum("v").over(w)).orderBy("i")
        .select("r").as[Long].collect().toList
      val want = xs.scanLeft(0L)(_ + _).tail
      assert(got == want)
    }
  }

  test("payload decode(encode(s)) round-trips [REF A8]") {
    import spark.implicits._
    val asciiGen = Gen.listOfN(20, Gen.alphaNumChar).map(_.mkString)
    forAll(asciiGen) { (s: String) =>
      val df = Seq(s).toDF("t")
        .select(decode(encode(col("t"), "UTF-8"), "UTF-8").as("rt"))
      assert(df.as[String].head() == s)
    }
  }

  test("exact dedup is idempotent") {
    import spark.implicits._
    forAll(smallLists) { (xs: List[Int]) =>
      val once = xs.toDF("v").dropDuplicates("v")
      val twice = once.dropDuplicates("v")
      assert(once.count() == twice.count())
    }
  }

  test("minhash signature equality rate estimates Jaccard within tolerance") {
    import spark.implicits._
    // two planted near-duplicates: 80 shared tokens out of 100
    val base = (1 to 100).map(i => s"tok$i")
    val other = base.take(80) ++ (1 to 20).map(i => s"alt$i")
    val docs = Seq((0L, base.mkString(" "), "s"), (1L, other.mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    docs.createOrReplaceTempView("mh_docs")
    val sig = docs
      .withColumn("tk", expr("filter(split(text, ' ', -1), t -> t <> '')"))
      .withColumn("sh", expr(
        """array_distinct(transform(sequence(1, size(tk) - 3),
          |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
          |                 element_at(tk, i + 2), element_at(tk, i + 3))))""".stripMargin))
      .withColumn("sig", expr(
        "transform(sequence(0, 63), h -> array_min(transform(sh, s2 -> xxhash64(h, s2))))"))
      .select("doc_id", "sh", "sig")
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1).toSet, r.getSeq[Long](2)))
      .toMap
    val (shA, sigA) = sig(0L)
    val (shB, sigB) = sig(1L)
    val trueJ = (shA & shB).size.toDouble / (shA | shB).size
    val estJ = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / 64
    assert(math.abs(trueJ - estJ) < 0.2, s"true=$trueJ est=$estJ")
  }

  test("cosine_sim matches a plain-Scala reference") {
    import spark.implicits._
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-10, 10).map(_.toFloat))
    forAll2(vecGen, vecGen) { (a: List[Float], b: List[Float]) =>
      val df = Seq((a, b)).toDF("a", "b")
        .select(expr("cosine_sim(a, b)").as("c"))
      val got = df.as[Double].head()
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      val want = if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      assert(math.abs(got - want) < 1e-9, s"got=$got want=$want")
    }
  }

  test("dedup_clusters is the transitive closure of the LSH pair graph") {
    // sf0.01: the sf0.001 fixture has no LSH candidate pairs (vacuous)
    val dir = "/root/testdata/sf0.01"
    val pairs = operators.DedupQueries.minhashLsh(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must produce candidate pairs")
    val rows = operators.DedupQueries.dedupClusters(spark, dir).collect()
    val label = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1. every candidate edge is intra-cluster (closure covers the graph)
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"edge ($a,$b) crosses clusters")
    }
    // 2. the cluster id is the component's min doc_id, and exactly the
    //    survivor carries it
    val byLabel = rows.groupBy(_.getLong(1))
    byLabel.foreach { case (l, members) =>
      assert(members.map(_.getLong(0)).min == l, s"cluster $l id is not its min doc_id")
      val survivors = members.filter(_.getBoolean(3))
      assert(survivors.map(_.getLong(0)).toSeq == Seq(l), s"cluster $l survivor mismatch")
      assert(members.forall(_.getLong(2) == members.length), s"cluster $l size mismatch")
    }
    // 3. no singleton clusters: only docs that appear in some pair are listed
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(rows.map(_.getLong(0)).toSet == inPairs)
  }

  test("dedup_substring_spans: consolidated spans are bounded and consistent") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.DedupQueries.substringSpans(spark, dir).collect()
    assert(rows.nonEmpty, "fixture must contain cross-doc duplicated 8-grams")
    rows.foreach { r =>
      val (nTok, nSpans, dupTokens, ratio) =
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      // every span covers >= one 8-gram; spans are disjoint so the total
      // duplicated-token count fits inside the document
      assert(nSpans >= 1 && dupTokens >= 8L * nSpans && dupTokens <= nTok)
      assert(math.abs(ratio - dupTokens.toDouble / nTok) < 1e-3)
    }
  }

  test("dedup_semantic: exactly the cluster-min vector has no prior mate") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.DedupQueries.semanticDedup(spark, dir).collect()
    val all = rows.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // total partition: every vector appears exactly once
    assert(all.map(_._2).distinct.length == all.length)
    all.groupBy(_._1).foreach { case (cluster, members) =>
      val noPrior = members.filter(_._3 == -1.0)
      assert(noPrior.map(_._2).toSeq == Seq(members.map(_._2).min),
        s"cluster $cluster: exactly the min vec_id must lack a prior mate")
      members.foreach { case (_, id, maxPrior, isDup) =>
        assert(isDup == (maxPrior >= 0.3), s"vec $id dup flag inconsistent")
      }
    }
    assert(all.exists(_._4), "tau=0.3 must be non-degenerate on the fixture")
  }

  test("sim_bm25_topk: ranked, self-excluded, per-query bounded") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.SimilarityQueries.bm25TopK(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length <= 3)
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to rs.length))
      // scores non-increasing in rank; the query never retrieves itself
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) >= b.getDouble(2)
        case _ => true
      })
      assert(rs.forall(_.getLong(1) != q))
    }
  }

  test("curation_domain_blocklist: counts partition the corpus") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.CurationQueries.domainBlocklist(spark, dir).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.documents(spark, dir).count())
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), s"${r.getString(0)} split")
    }
    assert(rows.map(_.getLong(3)).sum > 0, "blocklist must be non-degenerate")
  }

  test("text_unigram_logprob: probabilities are proper and flags consistent") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.TextQueries.unigramLogprob(spark, dir).collect()
    assert(rows.length == Tables.documents(spark, dir).count())
    rows.foreach { r =>
      val (lp, flag) = (r.getDouble(2), r.getBoolean(3))
      assert(lp < 0.0, "log prob of a <1 probability must be negative")
      assert(flag == (lp < -3.45))
    }
    assert(rows.exists(_.getBoolean(3)), "low-likelihood tail must be non-empty")
  }

  test("text_bigram_logprob: proper smoothed model, one bigram per adjacency") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.TextQueries.bigramLogprob(spark, dir).collect()
    // every >=2-token doc is scored, logprobs are strictly negative
    // (smoothing: (c12+1/2)/(c1+V/2) < 1 whenever V > 1)
    val nDocs = Tables.documents(spark, dir)
      .filter(size(expr("array_remove(split(text, ' ', -1), '')")) >= 2).count()
    assert(rows.length == nDocs)
    val tokCounts = Tables.documents(spark, dir)
      .select(col("doc_id"), size(expr("array_remove(split(text, ' ', -1), '')")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0)
      assert(r.getLong(1) == tokCounts(r.getLong(0)) - 1L, s"doc ${r.getLong(0)} bigram count")
    }
  }

  test("win_sessionize_gaps: sessions partition the event log at 30-minute gaps") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.WindowQueries.sessionizeGaps(spark, dir).collect()
    val nEvents = Tables.events(spark, dir).count()
    assert(rows.map(_.getLong(3)).sum == nEvents, "every event is in exactly one session")
    // session seqs are 1..k contiguous per user
    rows.groupBy(_.getLong(0)).foreach { case (u, ss) =>
      assert(ss.map(_.getInt(1)).sorted.toSeq == (1 to ss.length), s"user $u session seq")
    }
    // batch/stream parity: the same 30-minute rule drives the streaming
    // session-window queries, so the session count must agree with the
    // oracle-pinned streaming row count basis (one row per session)
    assert(rows.length.toLong ==
      streaming.StreamingQueries.sessions(spark, dir).count())
  }

  test("win_ewma_daily: output satisfies the EWMA recurrence bit-exactly") {
    val dir = "/root/testdata/sf0.01"
    val rows = operators.WindowQueries.ewmaDaily(spark, dir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (u, days) =>
      val ordered = days.sortBy(_.getString(1))
      var prev = Double.NaN
      ordered.zipWithIndex.foreach { case (r, i) =>
        val x = r.getLong(2).toDouble
        val e = r.getDouble(3)
        // alpha = 1/2 makes every term a dyadic rational: the recurrence
        // must hold EXACTLY after the declared 6-dp HALF_UP output rounding
        // (dyadic values can sit precisely on the .5 rounding boundary, so
        // compare rounded-to-rounded, not with an epsilon)
        val want = if (i == 0) x else 0.5 * x + 0.5 * prev
        val wantRounded = BigDecimal(want)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(e == wantRounded, s"user $u day ${r.getString(1)}: $e vs $wantRounded")
        prev = want
      }
    }
  }

  test("dedup_sorted_neighborhood: subset of brute-force pairs, values exact") {
    val dir = "/root/testdata/sf0.01"
    val got = operators.DedupQueries.sortedNeighborhood(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty, "fixture contains near-dups the neighborhood must find")
    // brute-force all-pairs shingle Jaccard (reference model, corpus is small here)
    val sh = Tables.documents(spark, dir)
      .withColumn("tk", expr("array_remove(split(text, ' ', -1), '')"))
      .filter(size(col("tk")) >= 4)
      .select(col("doc_id"), expr("word_shingles(tk, 4)").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if math.round(j * 1e4) / 1e4 >= 0.2
    } yield (a, b) -> math.round(j * 1e4) / 1e4).toMap
    got.foreach { case (pair, j) =>
      assert(brute.get(pair).contains(j), s"pair $pair jaccard $j not in brute-force set")
    }
    // window-3 over the min-shingle order recovers the high-sim pairs: every
    // brute-force pair at J >= 0.9 (true near-dups) is found
    brute.filter(_._2 >= 0.9).keys.foreach { p =>
      assert(got.contains(p), s"true near-dup $p missed by the neighborhood")
    }
  }

  test("curation_quality_survivor: survivor is the argmax-quality cluster member") {
    val dir = "/root/testdata/sf0.01"
    val clusters = operators.DedupQueries.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(expr("array_remove(split(text, ' ', -1), '')")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byCluster = clusters.groupBy(_._2)
    val rows = operators.CurationQueries.qualitySurvivor(spark, dir).collect()
    assert(rows.length == byCluster.size)
    rows.foreach { r =>
      val (cid, n, survivor, survTok) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
      val members = byCluster(cid).map(_._1)
      assert(n == members.length)
      val want = members.minBy(d => (-nTok(d), d))
      assert(survivor == want, s"cluster $cid: $survivor is not the max-quality member")
      assert(survTok == nTok(survivor))
      assert(members.forall(d => nTok(d) <= survTok))
    }
  }

  test("sessionize law: matches the Scala fold model on generated event streams") {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000
    // per-user event offsets in seconds over a ~3-day span: dense enough
    // for multi-event sessions, sparse enough for many gaps
    val offsets = Gen.listOfN(40, Gen.chooseNum(0L, 260000L))
    forAll(Gen.listOfN(4, offsets), n = 6) { users =>
      val rows = users.zipWithIndex.flatMap { case (offs, u) =>
        offs.map(o => (u.toLong, new java.sql.Timestamp(1700000000000L + o * 1000), 1.0))
      }
      val df = rows.toDF("user_id", "ts", "value")
      val got = operators.WindowQueries.sessionizeEvents(df).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
      // reference model: sort each user's times, fold with the 30-min rule
      val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
        val times = rs.map(_._2.getTime).sorted
        val sizes = times.foldLeft(List.empty[(Long, Int)]) { (acc, t) =>
          acc match {
            case (last, n) :: tail if (t - last) * 1000 <= gapUs => (t, n + 1) :: tail
            case _ => (t, 1) :: acc
          }
        }.reverse.map(_._2)
        sizes.zipWithIndex.map { case (n, i) => (u, i + 1, n.toLong) }
      }
      assert(got.sorted.toSeq == want.sorted)
    }
  }

  test("ewma law: recurrence holds on generated daily series") {
    import spark.implicits._
    val dayCounts = Gen.listOfN(25, Gen.chooseNum(1, 500))
    forAll(dayCounts, n = 6) { counts =>
      // one user, counts(i) events on day i — drive the full query path
      val rows = counts.zipWithIndex.flatMap { case (c, day) =>
        (0 until c).map(_ => (7L, new java.sql.Timestamp(1700000000000L + day * 86400000L), 0.0))
      }
      val got = operators.WindowQueries.ewmaOfEvents(rows.toDF("user_id", "ts", "value"))
        .collect().sortBy(_.getString(1)).map(r => (r.getLong(2), r.getDouble(3)))
      assert(got.map(_._1).toSeq == counts.map(_.toLong))
      var model = Double.NaN
      got.zipWithIndex.foreach { case ((x, e), i) =>
        model = if (i == 0) x.toDouble else 0.5 * x + 0.5 * model
        val rounded = BigDecimal(model).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(e == rounded, s"day $i: $e vs $rounded")
      }
    }
  }

  test("misc_merge_upsert: actions partition the merged keyspace") {
    val rows = operators.MiscQueries.mergeUpsert(spark, Sf).collect()
    val orders = Tables.orders(spark, Sf).select("o_orderkey").collect().map(_.getLong(0))
    val baseKeys = orders.filter(_ % 10 != 3).toSet
    val updKeys = orders.filter(_ % 5 == 0).toSet
    def total(action: String) = rows.filter(_.getString(1) == action).map(_.getLong(2)).sum
    assert(total("update") == (baseKeys & updKeys).size)
    assert(total("insert") == (updKeys -- baseKeys).size)
    assert(total("keep") == (baseKeys -- updKeys).size)
    // every inserted/updated row carries the update status
    assert(rows.filter(r => r.getString(1) != "keep").forall(_.getString(0) == "X"))
  }

  test("stream_static_anti_join and stream_union agree with their batch twins") {
    val ev = Tables.events(spark, Sf)
    val anti = streaming.StreamingQueries.streamStaticAntiJoin(spark, Sf).collect()
    val blocked = Tables.customer(spark, Sf)
      .filter(col("c_custkey") % 7 === 0).collect().map(_.getLong(0)).toSet
    val wantAnti = ev.collect()
      .filterNot(r => blocked(r.getLong(2)))
      .groupBy(_.getString(3)).view.mapValues(_.length.toLong).toMap
    assert(anti.map(r => r.getString(0) -> r.getLong(1)).toMap == wantAnti)
    val uni = streaming.StreamingQueries.streamUnion(spark, Sf).collect()
    val wantUni = ev.collect().groupBy(_.getString(3)).view.mapValues(_.length.toLong).toMap
    assert(uni.map(r => r.getString(0) -> r.getLong(1)).toMap == wantUni)
  }

  test("stream_foreachbatch_merge: three-batch merge reconstructs the batch aggregate") {
    val merged = streaming.StreamingQueries.foreachBatchMerge(spark, Sf).collect()
    val ev = Tables.events(spark, Sf).collect()
    assert(merged.map(_.getLong(1)).sum == ev.length, "every event merged exactly once")
    val wantUsers = ev.map(_.getLong(2)).distinct.sorted
    assert(merged.map(_.getLong(0)).toSeq == wantUsers.toSeq, "one merged row per user")
  }

  test("sim_recall_eval: one row per query, hits bounded by k, non-degenerate") {
    val rows = operators.SimilarityQueries.recallEval(spark, "/root/testdata/sf0.01").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 10L))
    rows.foreach { r =>
      val (hits, recall) = (r.getLong(1), r.getDouble(2))
      assert(hits >= 0 && hits <= 3)
      assert(math.abs(recall - hits / 3.0) < 1e-3)
    }
    assert(rows.map(_.getLong(1)).sum > 0, "LSH must recall something")
  }

  test("stream_stream_full_join agrees with its batch twin") {
    val got = streaming.StreamingQueries.streamStreamFullJoin(spark, Sf).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    val want = {
      val ev = Tables.events(spark, Sf)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("pu"), col("ts").as("pt"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("cu"), col("ts").as("ct"))
      p.join(c, col("pu") === col("cu") &&
          col("ct") >= col("pt") - expr("INTERVAL 1 HOUR") && col("ct") <= col("pt"),
          "full_outer")
        .select("p_id", "c_id").collect()
        .map(r => (Option(r.get(0)), Option(r.get(1))))
    }
    def bag(a: Seq[(Option[Any], Option[Any])]) =
      a.groupBy(identity).view.mapValues(_.size).toMap
    assert(bag(got.toSeq) == bag(want.toSeq))
    // all three row classes must be present — the full join is non-degenerate
    assert(got.exists { case (p, c) => p.isDefined && c.isDefined })
    assert(got.exists { case (p, c) => p.isDefined && c.isEmpty })
    assert(got.exists { case (p, c) => p.isEmpty && c.isDefined })
  }

  test("sim_pq_adc_topk: ranked, self-excluded, distances non-negative") {
    val rows = operators.SimilarityQueries.pqAdcTopK(spark, "/root/testdata/sf0.01").collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == (0L until 10L))
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
      val dists = sorted.map(_.getDouble(2))
      assert(dists.forall(_ >= 0), s"negative ADC distance for q=$q")
      assert(dists.sliding(2).forall(w => w(0) <= w(1)), s"unranked for q=$q")
      assert(rs.forall(_.getLong(1) != q), s"self-match for q=$q")
    }
  }

  test("text_char_entropy matches the Scala model") {
    val got = operators.TextQueries.charEntropy(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    Tables.documents(spark, Sf).select("doc_id", "text").collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val counts = text.groupBy(identity).view.mapValues(_.size.toDouble)
      val n = text.length.toDouble
      val h = math.log(n) - counts.values.map(c => c * math.log(c)).sum / n
      val (nc, nd, he) = got(id)
      assert(nc == text.length && nd == counts.size)
      assert(math.abs(he - h) <= 2e-4, s"doc $id entropy $he vs model $h")
    }
  }

  test("curation_url_canonical: canonical form invariants, variants partition the corpus") {
    val rows = operators.CurationQueries.urlCanonical(spark, Sf).collect()
    val nDocs = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "every doc in exactly one canonical group")
    rows.foreach { r =>
      val url = r.getString(0)
      assert(url.startsWith("https://"), url)
      assert(url == url.toLowerCase, url)
      assert(!url.contains("www.") && !url.contains("?") && !url.contains("#"), url)
      assert(!url.endsWith("/"), url)
      assert(r.getLong(2) <= r.getLong(1), "distinct raw forms bounded by variants")
    }
    assert(rows.exists(_.getLong(1) > 1), "dedup must be non-degenerate")
  }

  test("misc_skew_diagnostics matches the recomputed group sizes") {
    val rows = operators.MiscQueries.skewDiagnostics(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val sizes = Tables.lineitem(spark, Sf).groupBy("l_suppkey").count()
      .collect().map(_.getLong(1))
    val r = rows("lineitem.l_suppkey")
    assert(r.getLong(1) == sizes.length)
    assert(r.getLong(2) == sizes.max)
    assert(math.abs(r.getDouble(5) - sizes.max.toDouble / sizes.sum) < 1e-6)
    // ordering invariants hold on every profiled key
    rows.values.foreach { row =>
      assert(row.getLong(2) >= row.getDouble(4) - 1e-9, "max >= p99")
      assert(row.getDouble(4) >= 0 && row.getDouble(6) >= 1.0 - 1e-9, "skew ratio >= 1")
    }
  }

  test("win_anomaly_zscore: flags iff |rounded z| > 2, frame bounds hold") {
    val rows = operators.WindowQueries.anomalyZscore(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nFrame = r.getLong(3)
      assert(nFrame >= 1 && nFrame <= 7)
      val z = if (r.isNullAt(6)) None else Some(r.getDouble(6))
      val flag = r.getBoolean(7)
      assert(flag == z.exists(v => math.abs(v) > 2))
      if (nFrame < 3) assert(z.isEmpty, "z requires >= 3 frame rows")
    }
    assert(rows.exists(_.getBoolean(7)), "anomaly flag must be non-degenerate")
  }

  test("agg_retention_cohorts: day-0 is full retention, activity bounded by cohort") {
    val rows = operators.AggQueries.retentionCohorts(spark, Sf).collect()
    assert(rows.nonEmpty)
    val day0 = rows.filter(_.getLong(1) == 0L)
    assert(day0.nonEmpty)
    day0.foreach { r =>
      assert(r.getLong(2) == r.getLong(3), "offset 0 must cover the whole cohort")
      assert(r.getDouble(4) == 1.0)
    }
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "active users bounded by cohort size")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1.0)
    }
    val nUsers = Tables.events(spark, Sf).select("user_id").distinct().count()
    assert(day0.map(_.getLong(2)).sum == nUsers, "cohorts partition the user base")
  }

  test("agg_corr_matrix matches the Scala Pearson model") {
    val got = operators.AggQueries.corrMatrix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val data = Tables.lineitem(spark, Sf)
      .select(cols.map(c => col(c).cast("double")): _*).collect()
      .map(r => cols.indices.map(r.getDouble).toArray)
    def pearson(i: Int, j: Int): Double = {
      val (xs, ys) = (data.map(_(i)), data.map(_(j)))
      val (mx, my) = (xs.sum / xs.length, ys.sum / ys.length)
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val (sx, sy) = (math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum),
        math.sqrt(ys.map(y => (y - my) * (y - my)).sum))
      cov / (sx * sy)
    }
    got.foreach { case ((a, b), r) =>
      val want = pearson(cols.indexOf(a), cols.indexOf(b))
      assert(math.abs(r - want) <= 2e-4, s"corr($a,$b)=$r vs model $want")
      assert(r >= -1.0 && r <= 1.0)
    }
  }

  test("text_ngram_profile: ranked top-10 of 3-char grams per language") {
    val rows = operators.TextQueries.ngramProfile(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getString(2).length == 3, s"not a trigram: '${r.getString(2)}'")
    }
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length), s"rank gap in $lang")
      assert(byRank.length <= 10)
      val counts = byRank.map(_.getLong(3))
      assert(counts.sliding(2).forall(w => w(0) >= w(1)), s"counts not ranked in $lang")
    }
  }

  test("misc_scd2_history: contiguous versions, one open current row, no null-change rows") {
    val rows = operators.MiscQueries.scd2History(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (ck, rs) =>
      val byV = rs.sortBy(_.getInt(1))
      assert(byV.map(_.getInt(1)).toSeq == (1 to byV.length), s"version gap for $ck")
      // exactly the last version is current (open-ended)
      byV.dropRight(1).foreach { r =>
        assert(!r.getBoolean(5) && !r.isNullAt(4), s"closed rows must have an end date ($ck)")
      }
      assert(byV.last.getBoolean(5) && byV.last.isNullAt(4), s"last version open for $ck")
      // consecutive duplicates compressed away; intervals ordered and well-formed
      byV.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getString(2) != b.getString(2), s"uncompressed duplicate status for $ck")
        assert(a.getString(3) < b.getString(3), s"effective_from not increasing for $ck")
        assert(a.getString(4) >= a.getString(3), s"interval inverted for $ck")
      }
    }
  }

  test("agg_data_profile matches recomputed column stats") {
    val rows = operators.AggQueries.dataProfile(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.size == 6)
    val li = Tables.lineitem(spark, Sf)
    val n = li.count()
    rows.values.foreach { r =>
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == 0, "fixture has no nulls")
      assert(r.getLong(3) <= n)
      assert(r.getDouble(4) <= r.getDouble(6) && r.getDouble(6) <= r.getDouble(5),
        s"min <= mean <= max violated for ${r.getString(0)}")
    }
    val q = rows("l_quantity")
    assert(q.getLong(3) == li.select("l_quantity").distinct().count())
    assert(q.getDouble(4) == li.agg(min("l_quantity")).head.getDouble(0))
  }

  test("dedup_containment: asymmetric score bounds, exact dups score 1.0") {
    val rows = operators.DedupQueries.containmentPairs(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1))
      val c = r.getDouble(2)
      assert(c >= 0.07 && c <= 1.0, s"containment out of range: $c")
    }
    // exact duplicates (same normalized text) must appear with containment 1
    val exactPairs = {
      val byHash = Tables.documents(spark, Sf)
        .select(col("doc_id"), sha2(lower(trim(regexp_replace(col("text"), "\\s+", " ")))
          .cast("binary"), 256).as("h"))
        .collect().groupBy(_.getString(1)).values.filter(_.length > 1)
      byHash.flatMap(g => g.map(_.getLong(0)).sorted.combinations(2)).map(p => (p(0), p(1))).toSet
    }
    val got = rows.map(r => (math.min(r.getLong(0), r.getLong(1)),
      math.max(r.getLong(0), r.getLong(1))) -> r.getDouble(2)).toMap
    exactPairs.foreach { p =>
      assert(got.get(p).contains(1.0), s"exact dup pair $p missing or not 1.0")
    }
  }

  test("dedup_simhash_pairs: hamming verified against the declared fingerprints") {
    val fp = operators.DedupQueries.simhash(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = operators.DedupQueries.simhashPairs(spark, Sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b, hd) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a < b)
      assert(hd == java.lang.Long.bitCount(fp(a) ^ fp(b)), s"hamming mismatch for ($a,$b)")
      assert(hd <= 1)
    }
  }

  test("curation_host_pagerank matches the Scala power-iteration model") {
    val got = operators.CurationQueries.hostPagerank(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // independent model from the same deterministic edge derivation
    val docIds = Tables.documents(spark, Sf).select("doc_id").collect().map(_.getLong(0))
    val edges = docIds
      .map(d => (f"host${d % 13}%02d.example.com", f"host${(d * d + 1) % 13}%02d.example.com"))
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val outW = edges.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nodes = edges.keys.map(_._1).toSeq.distinct.sorted
    var pr = nodes.map(_ -> 1.0 / 13).toMap
    (1 to 5).foreach { _ =>
      val inflow = edges.toSeq
        .map { case ((s0, d0), w) => d0 -> pr(s0) * (w / outW(s0)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = nodes.map(n => n -> (0.15 / 13 + 0.85 * inflow.getOrElse(n, 0.0))).toMap
    }
    assert(got.keys.toSet == nodes.toSet)
    nodes.foreach { n =>
      assert(math.abs(got(n) - pr(n)) <= 2e-6, s"$n: ${got(n)} vs model ${pr(n)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-3, "rank mass conserved")
    assert(got.values.toSeq.distinct.size > 1, "ranks must be non-uniform")
  }

  test("agg_approx_percentile: sketch estimates land inside the rank windows") {
    val rows = operators.AggQueries.approxPercentileBounds(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq(2, 4, 6, 8).foreach { i =>
        assert(r.getBoolean(i), s"flag ${r.getString(0)} quantile col $i out of rank window")
      }
    }
  }

  test("dedup_prefix_filter finds exactly the J >= tau pairs of the full index") {
    // PPJoin's exactness claim: joining only on rarest-prefix shingles
    // must lose NO pair above the threshold — compare against the
    // all-shingle inverted index (no prefix cut) on the same fixture
    val sh = Tables.documents(spark, Sf)
      .withColumn("tk", expr("array_remove(split(text, ' ', -1), '')"))
      .filter(size(col("tk")) >= 4)
      .select(col("doc_id"), explode(expr("word_shingles(tk, 4)")).as("shingle"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle").as("s_b")),
        col("shingle") === col("s_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val full = inter
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= operators.DedupQueries.PrefixTau)
      .select("doc_a", "doc_b", "jaccard")
    val pruned = SparkEntry.queries("dedup_prefix_filter")(spark, Sf)
      .select("doc_a", "doc_b", "jaccard")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
      "prefix-filtered pairs diverge from the full-index pairs")
  }

  test("win_markov_transitions: mass conserved, rows normalize to one") {
    val t = SparkEntry.queries("win_markov_transitions")(spark, Sf).collect()
    val total = t.map(_.getLong(2)).sum
    val ev = Tables.events(spark, Sf)
    val n = ev.count()
    val users = ev.select("user_id").distinct().count()
    // each user with k events contributes exactly k-1 transitions
    assert(total == n - users, s"transition mass $total != $n - $users")
    t.groupBy(_.getString(0)).foreach { case (prev, rows) =>
      val psum = rows.map(_.getDouble(3)).sum
      assert(math.abs(psum - 1.0) < 0.01, s"$prev probabilities sum to $psum")
    }
  }

  test("win_attribution: credited conversions bounded by total purchases") {
    val a = SparkEntry.queries("win_attribution")(spark, Sf).collect()
    val credited = a.map(_.getLong(1)).sum
    val purchases = Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase").count()
    // only a user's FIRST event being the purchase itself goes uncredited
    assert(credited <= purchases, s"credited $credited > purchases $purchases")
    assert(credited >= purchases / 2, "implausibly few credited conversions")
    a.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1),
        s"${r.getString(0)}: also_first_touch exceeds conversions")
    }
  }

  test("rank-test invariants: D in [0,1], U within range, calibration partitions") {
    // KS: D is a difference of two ECDFs, so 0 <= D <= 1
    val ks = SparkEntry.queries("agg_ks_test")(spark, Sf).collect()(0)
    val d = ks.getDouble(2)
    assert(d >= 0.0 && d <= 1.0, s"KS D = $d outside [0, 1]")
    // Mann-Whitney: 0 <= U1 <= n1*n2 (exact bounds of the U statistic)
    val mw = SparkEntry.queries("agg_mann_whitney")(spark, Sf).collect()(0)
    val (n1, n2, u1) = (mw.getLong(0), mw.getLong(1), mw.getDouble(2))
    assert(u1 >= 0.0 && u1 <= (n1 * n2).toDouble, s"U1 = $u1 outside [0, ${n1 * n2}]")
    // calibration: the deciles PARTITION the scored corpus with near-equal
    // sizes (ntile guarantees max-min <= 1)
    val cal = SparkEntry.queries("curation_quality_calibration")(spark, Sf).collect()
    assert(cal.map(_.getInt(0)).toSet == (1 to 10).toSet)
    val sizes = cal.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, s"ntile sizes unbalanced: ${sizes.toSeq}")
    val scored = Tables.documents(spark, Sf)
      .filter(size(expr("array_remove(split(text, ' ', -1), '')")) >= 1).count()
    assert(sizes.sum == scored, s"deciles don't partition: ${sizes.sum} != $scored")
  }

  test("sequence/report invariants: WoW arithmetic holds, support bounds users") {
    // period-over-period: change column must equal the revenue difference
    val pop = SparkEntry.queries("win_period_over_period")(spark, Sf).collect()
    pop.filter(r => !r.isNullAt(4)).foreach { r =>
      val (rev, prev, chg) = (r.getDouble(2), r.getDouble(4), r.getDouble(5))
      assert(math.abs((rev - prev) - chg) < 0.011, s"WoW change mismatch: $r")
    }
    // event sequences: support >= distinct users emitting the pair, and the
    // adjacent-only Markov transition count is bounded by the in-window
    // support for every (a, b) that Markov observed inside the hour
    val seq = SparkEntry.queries("join_event_sequences")(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    seq.values.foreach { case (support, users) =>
      assert(support >= users, s"support $support < users $users")
    }
    assert(seq.nonEmpty && seq.values.map(_._1).sum > 0)
  }

  test("divergence invariants: KL and PSI nonnegative, Gini within [0, 1)") {
    // Gibbs' inequality bounds KL >= 0 and PSI's symmetrized form >= 0;
    // the 4-decimal rounding can dip an exact 0 to at most -5e-5
    SparkEntry.queries("text_kl_divergence")(spark, Sf).collect().foreach { r =>
      assert(r.getDouble(3) >= -1e-4, s"${r.getString(0)}: KL ${r.getDouble(3)} < 0")
    }
    SparkEntry.queries("curation_psi_drift")(spark, Sf).collect().foreach { r =>
      assert(r.getDouble(2) >= -1e-4, s"${r.getString(0)}: PSI ${r.getDouble(2)} < 0")
    }
    SparkEntry.queries("agg_gini_spend")(spark, Sf).collect().foreach { r =>
      val g = r.getDouble(3)
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)}: gini $g outside [0, 1)")
    }
  }

  test("correlation-family invariants: Spearman, assortativity, ACF bounded") {
    SparkEntry.queries("agg_spearman_corr")(spark, Sf).collect().foreach { r =>
      val rho = r.getDouble(2)
      assert(rho >= -1.0 && rho <= 1.0, s"${r.getString(0)}: rho $rho outside [-1, 1]")
    }
    SparkEntry.queries("graph_assortativity")(spark, Sf).collect().foreach { r =>
      val a = r.getDouble(1)
      assert(a >= -1.0 && a <= 1.0, s"assortativity $a outside [-1, 1]")
    }
    // the lagged-pair ACF estimator is not strictly Cauchy–Schwarz-bounded
    // (numerator pairs ≠ denominator support), so only a sanity band
    SparkEntry.queries("agg_autocorr_lag")(spark, Sf).collect().foreach { r =>
      val acf = r.getDouble(2)
      assert(acf >= -1.2 && acf <= 1.2, s"lag ${r.getInt(0)}: acf $acf implausible")
    }
  }

  test("interval-merge and RFM invariants") {
    // every merged island spans at least one 30-day interval
    SparkEntry.queries("misc_interval_merge")(spark, Sf).collect().foreach { r =>
      val (islands, custs, days) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(days >= 30L * islands * custs,
        s"$custs customers with $islands islands cover only $days days")
    }
    // segment codes are three digits of 1..5
    SparkEntry.queries("win_rfm_segmentation")(spark, Sf).collect().foreach { r =>
      val seg = r.getLong(0)
      val (a, b, c) = (seg / 100, seg / 10 % 10, seg % 10)
      assert(Seq(a, b, c).forall(d => d >= 1 && d <= 5), s"segment $seg")
    }
  }

  test("curriculum schedule interleaves buckets round-robin while all are alive") {
    // with 4 difficulty buckets and a fixture far larger than 48/4 docs per
    // bucket, slot p must hold a bucket-(p mod 4) document
    val rows = SparkEntry.queries("curation_curriculum_order")(spark, Sf).collect()
    assert(rows.length == 48)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) % 4,
        s"slot ${r.getLong(0)} holds bucket ${r.getLong(2)}")
    }
  }

  test("reservoir keys are valid A-Res draws: distinct docs, keys in (0, 1]") {
    val rows = SparkEntry.queries("curation_weighted_reservoir")(spark, Sf).collect()
    assert(rows.length == 32)
    assert(rows.map(_.getLong(0)).distinct.length == 32)
    rows.foreach { r =>
      val k = r.getDouble(3)
      assert(k > 0.0 && k <= 1.0, s"key $k outside (0, 1]")
    }
  }

  test("Fano factors are nonnegative with the active-hours floor") {
    SparkEntry.queries("agg_burstiness_fano")(spark, Sf).collect().foreach { r =>
      assert(r.getLong(1) >= 12, s"n_hours ${r.getLong(1)} below floor")
      assert(r.getDouble(3) >= 0.0, s"fano ${r.getDouble(3)} negative")
    }
  }

  test("bootstrap CI is ordered and within the order-value range") {
    val row = SparkEntry.queries("agg_bootstrap_ci")(spark, Sf).collect().head
    val (lo, hi) = (row.getDouble(1), row.getDouble(2))
    assert(lo <= hi, s"ci [$lo, $hi] inverted")
    val mm = Tables.orders(spark, Sf)
      .agg(min("o_totalprice"), max("o_totalprice")).collect().head
    assert(lo >= mm.getDouble(0) && hi <= mm.getDouble(1),
      s"ci [$lo, $hi] outside order-value range")
  }

  test("gopher repetition fractions are valid and the flag is their function") {
    SparkEntry.queries("text_gopher_repetition")(spark, Sf).collect().foreach { r =>
      val (t2, t3, d2, d5) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      Seq(t2, t3, d2, d5).foreach(f => assert(f >= 0.0 && f <= 1.0, s"frac $f"))
      // any position covered by a duplicated 5-gram is covered by a
      // duplicated 2-gram (each of the five positions sits inside one of
      // the four repeated 2-grams the repeated 5-gram contains), so the
      // 2-gram coverage dominates
      assert(d2 >= d5, s"dup2 $d2 < dup5 $d5")
      assert(r.getBoolean(6) == (t2 > 0.20 || t3 > 0.18 || d5 > 0.15),
        s"flag inconsistent with fractions ($t2, $t3, $d5)")
    }
  }

  test("diverse top-k honors the per-label cap and dense global ranks") {
    val rows = SparkEntry.queries("sim_diverse_topk")(spark, Sf).collect()
    rows.groupBy(r => (r.getLong(0), r.getInt(3))).foreach { case (k, g) =>
      assert(g.length <= 2, s"facet cap violated at $k: ${g.length}")
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, g) =>
      val rns = g.map(_.getInt(1)).sorted
      assert(rns.sameElements(1 to g.length), s"ranks not dense for q=$q")
      assert(g.length <= 8, s"more than 8 results for q=$q")
      // scores must be non-increasing in rank
      val byRank = g.sortBy(_.getInt(1)).map(_.getDouble(4))
      byRank.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) >= w(1), s"score order broken for q=$q")
      }
    }
  }

  test("winsorized stats: trimmed and winsorized means bracket correctly") {
    SparkEntry.queries("agg_winsorized_stats")(spark, Sf).collect().foreach { r =>
      val (n, k) = (r.getLong(1), r.getLong(2))
      assert(k == n / 20, s"k $k for n $n")
      val (mean, trimmed, winsor) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      Seq(mean, trimmed, winsor).foreach(v => assert(!v.isNaN && !v.isInfinite))
      // every averaged value (raw, trimmed-in, clamped) lies inside the
      // group's [min, max], so all three means must too — recomputed from
      // the base table, not from the query under test
      val pri = r.getString(0)
      val mm = Tables.orders(spark, Sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === pri)
        .selectExpr("min(o_totalprice) AS lo", "max(o_totalprice) AS hi")
        .head()
      Seq(mean, trimmed, winsor).foreach { v =>
        assert(v >= mm.getDouble(0) - 0.01 && v <= mm.getDouble(1) + 0.01,
          s"$pri: $v outside [${mm.getDouble(0)}, ${mm.getDouble(1)}]")
      }
      // trimming drops 2k values, winsorizing keeps them clamped: both
      // must differ from the raw mean by less than the full range
      assert(math.abs(trimmed - mean) < mm.getDouble(1) - mm.getDouble(0))
      assert(math.abs(winsor - mean) < mm.getDouble(1) - mm.getDouble(0))
    }
  }

  test("weighted median halves the total weight on each side") {
    val rows = SparkEntry.queries("agg_weighted_median")(spark, Sf).collect()
    assert(rows.length == 3) // A, N, R
    rows.foreach { r =>
      val (flag, tw, med) = (r.getString(0), r.getLong(1), r.getDouble(2))
      // recompute both halves from the base table: weight at or below the
      // median must reach ceil(W/2), weight strictly below must not
      val cents = math.round(med * 100)
      val half = (tw + 1) / 2
      val agg = Tables.lineitem(spark, Sf)
        .filter(org.apache.spark.sql.functions.col("l_returnflag") === flag)
        .selectExpr(
          s"sum(CASE WHEN CAST(round(l_extendedprice*100) AS BIGINT) <= $cents THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END) AS at_or_below",
          s"sum(CASE WHEN CAST(round(l_extendedprice*100) AS BIGINT) < $cents THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END) AS below")
        .head()
      assert(agg.getLong(0) >= half, s"$flag: at_or_below ${agg.getLong(0)} < $half")
      assert(agg.getLong(1) < half, s"$flag: below ${agg.getLong(1)} >= $half")
    }
  }

  test("moore-lewis: in-domain docs score above the general corpus on average") {
    val rows = SparkEntry.queries("text_moore_lewis")(spark, Sf).collect()
    assert(rows.length == 500)
    val (en, rest) = rows.partition(_.getString(1) == "en")
    def meanScore(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(3)).sum / rs.length
    // the selection objective: the in-domain slice must rank above the
    // out-of-domain slice under its own LM-difference score
    assert(meanScore(en) > meanScore(rest),
      s"en ${meanScore(en)} <= rest ${meanScore(rest)}")
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getDouble(3) > 0.0), "selected flag drift")
    }
  }

  test("mann-kendall: S bounded by C(n,2), z sign follows S, flag is |z|>1.96") {
    SparkEntry.queries("agg_mann_kendall")(spark, Sf).collect().foreach { r =>
      val (n, sStat, var18, z) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      val maxS = n * (n - 1) / 2
      assert(math.abs(sStat) <= maxS, s"|S| $sStat > C($n,2) $maxS")
      assert(var18 > 0 && var18 <= n * (n - 1) * (2 * n + 5), s"var18 $var18")
      assert(math.signum(z) == math.signum(sStat.toDouble) || sStat == 0)
      assert(r.getBoolean(5) == (math.abs(z) > 1.96))
    }
  }

  test("hodges-lehmann: walsh count is n(n+1)/2 and the level is in range") {
    val dailyN = Tables.orders(spark, Sf)
      .selectExpr("year(to_date(o_orderdate)) AS yr", "to_date(o_orderdate) AS day",
        "CAST(round(o_totalprice*100) AS BIGINT) AS c")
      .groupBy("yr", "day").agg(org.apache.spark.sql.functions.expr("sum(c)").as("x"))
      .groupBy("yr")
      .agg(org.apache.spark.sql.functions.expr("count(*) AS n"),
        org.apache.spark.sql.functions.expr("min(x) AS lo"),
        org.apache.spark.sql.functions.expr("max(x) AS hi"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    SparkEntry.queries("agg_hodges_lehmann")(spark, Sf).collect().foreach { r =>
      val (n, lo, hi) = dailyN(r.getInt(0))
      assert(r.getLong(1) == n * (n + 1) / 2,
        s"year ${r.getInt(0)}: walsh ${r.getLong(1)} != C+diag for $n days")
      // a median of pairwise means lies within [min, max] of the series
      val hl = r.getDouble(2)
      assert(hl >= lo / 100.0 - 0.01 && hl <= hi / 100.0 + 0.01,
        s"hl $hl outside [${lo / 100.0}, ${hi / 100.0}]")
    }
  }

  test("changepoint: the reported gap IS the between-mean distance") {
    SparkEntry.queries("win_changepoint_mean")(spark, Sf).collect().foreach { r =>
      val (ml, mr, gap) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      // gap = |meanL − meanR| by construction; means floor to the cent
      assert(math.abs(math.abs(ml - mr) - gap) < 0.03,
        s"gap $gap vs |${ml} - ${mr}|")
      assert(gap >= 0.0)
    }
  }

  test("pettitt: K bounded by pair count, p in (0,2], flag consistent") {
    SparkEntry.queries("win_pettitt_changepoint")(spark, Sf).collect().foreach { r =>
      val (n, k, p) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      // |U_t| counts a subset of signed pairs: ≤ t(n−t) ≤ n²/4 ≤ C(n,2)
      assert(k >= 0 && k <= n * (n - 1) / 2, s"K $k vs n $n")
      assert(p > 0.0 && p <= 2.0, s"p $p") // the approximation can exceed 1 for tiny K
      assert(r.getBoolean(5) == (p < 0.05))
    }
  }

  test("bh fdr: adjusted p dominates raw p, is monotone in the p-ranking, capped at 1") {
    val rows = SparkEntry.queries("agg_bh_fdr")(spark, Sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val (p, pBh) = (r.getDouble(4), r.getDouble(5))
      assert(pBh >= p - 1e-9, s"${r.getString(0)}: p_bh $pBh < p $p")
      assert(pBh <= 1.0 + 1e-9)
      assert(r.getBoolean(6) == (pBh < 0.1))
    }
    // step-up property: ordered by raw p, the adjusted values never decrease
    val byP = rows.sortBy(r => (r.getDouble(4), r.getString(0))).map(_.getDouble(5))
    byP.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0) <= w(1) + 1e-9, "BH monotonicity broken")
    }
  }

  test("scalar quantize: error bounded by one quantization step per dimension") {
    val rows = SparkEntry.queries("sim_scalar_quantize")(spark, Sf).collect()
    // the worst per-dimension reconstruction error of a floor code is one
    // full step (hi−lo)/255, so every vector MSE is ≤ (max step)² —
    // recomputed from the base table, not the query under test
    val maxRange = Tables.embeddings(spark, Sf)
      .selectExpr("explode(embedding) AS v")
      .selectExpr("CAST(max(v) AS DOUBLE) - CAST(min(v) AS DOUBLE) AS r")
      .head().getDouble(0)
    val bound = math.pow(maxRange / 255.0, 2) * 1e6
    var total = 0L
    rows.foreach { r =>
      val (n, mse, maxMse) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      total += n
      assert(mse >= 0.0 && mse <= maxMse + 1e-9, s"mse $mse vs max $maxMse")
      assert(maxMse <= bound + 1e-6, s"max mse $maxMse exceeds step bound $bound")
    }
    assert(total == Tables.embeddings(spark, Sf).count(), s"vec total $total")
  }

  test("permissive csv: populations reconcile against the injection rule") {
    val r = SparkEntry.queries("src_csv_permissive")(spark, Sf).head()
    assert(r.getLong(0) == 25 && r.getLong(1) == 5, s"${r.getLong(0)}/${r.getLong(1)}")
    assert(r.getLong(2) == (0L until 25L).sum)
    assert(r.getString(3).length == 32)
  }

  test("quota: admitted = min(arrived, 3) per key and totals reconcile") {
    val rows = SparkEntry.queries("stream_quota_enforce")(spark, Sf).collect()
    var arrived = 0L
    rows.foreach { r =>
      val (na, nAdm) = (r.getLong(2), r.getLong(3))
      arrived += na
      assert(nAdm == math.min(na, 3L), s"admitted $nAdm for arrived $na")
      // an id-sum of admitted events is positive whenever anything admitted
      assert((nAdm == 0) == (r.getLong(4) == 0 && na == 0))
    }
    val total = Tables.events(spark, Sf).count()
    assert(arrived == total, s"arrived $arrived != events $total")
  }

  test("hampel: one row per day, MAD nonnegative, outliers deviate") {
    val rows = SparkEntry.queries("win_hampel_outliers")(spark, Sf).collect()
    val nDays = Tables.orders(spark, Sf)
      .selectExpr("count(DISTINCT to_date(o_orderdate))").head().getLong(0)
    assert(rows.length == nDays, s"${rows.length} rows vs $nDays days")
    rows.foreach { r =>
      val (rev, med, mad) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(mad >= 0.0 && med > 0.0 && rev > 0.0)
      if (r.getBoolean(4))
        assert(math.abs(rev - med) > 3.0 * 1.4826 * mad - 0.05,
          s"flagged but |${rev} - $med| within ${3.0 * 1.4826 * mad}")
    }
  }

  test("sma crossover: alternating directions, gap sign matches the label") {
    val rows = SparkEntry.queries("win_sma_crossover")(spark, Sf).collect()
    assert(rows.nonEmpty, "no crossings on a multi-year series is implausible")
    rows.foreach { r =>
      val (dir, s7, s28) = (r.getString(1), r.getDouble(2), r.getDouble(3))
      // floor-to-cent display can tie the two means, but the direction is
      // decided by the exact integer sign test — allow equality only
      if (dir == "golden") assert(s7 >= s28 - 0.01, s"golden but $s7 < $s28")
      else assert(s7 <= s28 + 0.01, s"death but $s7 > $s28")
    }
    // consecutive strict flips alternate unless the exact-integer gap ever
    // hits zero between events (a zero is not a strict flip, so a +→0→−
    // transition registers no event); the fixture series has no zero gaps,
    // so assert alternation only when that precondition holds
    val zeros = Tables.orders(spark, Sf)
      .groupBy(org.apache.spark.sql.functions.expr("to_date(o_orderdate)").as("day"))
      .agg(org.apache.spark.sql.functions.expr(
        "sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("x"))
      .selectExpr("day", "x",
        "sum(x) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7",
        "count(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS c7",
        "sum(x) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS s28",
        "count(*) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS c28")
      .filter("s7 * c28 = s28 * c7").count()
    if (zeros == 0) {
      rows.map(_.getString(1)).sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) != w(1), s"non-alternating: $w")
      }
    }
  }

  test("modularity: volumes cover 2|E| and Q is within the known bounds") {
    val rows = SparkEntry.queries("graph_modularity")(spark, Sf).collect()
    val sumIntra = rows.map(_.getLong(1)).sum
    val sumVol = rows.map(_.getLong(2)).sum
    // Σ cut = Σ vol − 2·Σ intra counts each cross edge twice → even
    assert((sumVol - 2 * sumIntra) % 2 == 0, "cut mass not even")
    val q = rows.map(_.getDouble(3)).sum
    assert(q > -0.5 && q < 1.0, s"modularity $q outside (-1/2, 1)")
    // per-community intra/volume must agree with the conductance query's
    // independent run over the same partition
    val cond = SparkEntry.queries("graph_conductance")(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(4))).toMap
    rows.foreach { r =>
      val (ci, cv) = cond(r.getString(0))
      assert(r.getLong(1) == ci && r.getLong(2) == cv,
        s"${r.getString(0)}: intra/vol drift vs conductance")
    }
  }

  test("seasonal decompose: seven ISO weekdays covering every day") {
    val rows = SparkEntry.queries("win_seasonal_decompose")(spark, Sf).collect()
    assert(rows.map(_.getInt(0)).sorted.sameElements(1 to 7))
    val nDays = Tables.orders(spark, Sf)
      .selectExpr("count(DISTINCT to_date(o_orderdate))").head().getLong(0)
    assert(rows.map(_.getLong(1)).sum == nDays)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0) // mean |residual|
      assert(r.getDouble(4) > 0.0)  // mean revenue
      // the weekly seasonal component is a deviation AROUND the trend, so
      // its magnitude must be far below the revenue level itself
      assert(math.abs(r.getDouble(2)) < r.getDouble(4), "seasonal >= level")
    }
  }

  test("conductance: cut mass balances and phi is a valid ratio") {
    val rows = SparkEntry.queries("graph_conductance")(spark, Sf).collect()
    // every cut edge is counted toward exactly two brands, every intra
    // edge toward one: Σ vol = Σ(2·intra + cut) = 2|E|
    val sumVol = rows.map(_.getLong(4)).sum
    val sumIntra = rows.map(_.getLong(2)).sum
    val sumCut = rows.map(_.getLong(3)).sum
    assert(sumCut % 2 == 0, s"cut mass $sumCut not even")
    assert(sumVol == 2 * sumIntra + sumCut, "volume identity broken")
    rows.foreach { r =>
      val phi = r.getDouble(5)
      assert(phi >= 0.0 && phi <= 1.0, s"${r.getString(0)}: phi $phi")
      assert(r.getLong(4) == 2 * r.getLong(2) + r.getLong(3))
    }
  }

  test("cuped: adjustment preserves the pooled mean and reduces variance") {
    val rows = SparkEntry.queries("misc_ab_test_cuped")(spark, Sf).collect()
    assert(rows.length == 2)
    val thetas = rows.map(_.getDouble(4)).distinct
    val rhos = rows.map(_.getDouble(5)).distinct
    assert(thetas.length == 1 && rhos.length == 1, "pooled θ/ρ² must match across variants")
    assert(rhos.head >= 0.0 && rhos.head <= 100.0, s"ρ² ${rhos.head}")
    // CUPED is mean-preserving in the pool: Σ n_v·mean_adj_v = Σ n_v·mean_y_v
    val rawW = rows.map(r => r.getLong(1) * r.getDouble(2)).sum
    val adjW = rows.map(r => r.getLong(1) * r.getDouble(3)).sum
    assert(math.abs(rawW - adjW) / math.abs(rawW) < 1e-6,
      s"adjustment moved the pooled mean: $rawW vs $adjW")
  }

  test("permutation test: add-one p consistent with the extreme count") {
    val r = SparkEntry.queries("agg_permutation_test")(spark, Sf).head()
    val (nPerms, nExtreme, p) = (r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(nPerms == 64)
    assert(nExtreme >= 0 && nExtreme <= nPerms)
    assert(math.abs(p - (nExtreme + 1).toDouble / (nPerms + 1)) < 1e-6)
    assert(r.getBoolean(4) == (p < 0.05))
  }

  test("theil-sen pairs count matches C(n_days, 2) and slopes are finite") {
    SparkEntry.queries("agg_theil_sen_trend")(spark, Sf).collect().foreach { r =>
      val (nDays, nPairs) = (r.getLong(1), r.getLong(2))
      assert(nPairs == nDays * (nDays - 1) / 2,
        s"year ${r.getInt(0)}: $nPairs pairs for $nDays days")
      assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite)
    }
  }

  test("holt fold in Spark SQL is BIT-IDENTICAL to the Scala recursion") {
    // win_holt_linear's determinism claim is that both engines execute
    // the same IEEE op sequence; this pins the Spark half against a plain
    // Scala loop with the same ops — any re-association inside the
    // aggregate() lambda (a codegen change, a constant-fold) breaks ==
    // on raw doubles, not an epsilon
    import spark.implicits._
    forAll(Gen.listOfN(40, Gen.chooseNum(1L, 1000000L)), n = 6) { xsL =>
      val xs = xsL.map(_.toDouble)
      val got = Seq(xs).toDF("xs")
        .withColumn("st", expr(
          """aggregate(slice(xs, 2, size(xs) - 1),
            |  named_struct('l', xs[0], 'b', 0D),
            |  (a, x) -> named_struct(
            |    'l', 0.3 * x + 0.7 * (a.l + a.b),
            |    'b', 0.1 * ((0.3 * x + 0.7 * (a.l + a.b)) - a.l) + 0.9 * a.b))"""
            .stripMargin))
        .select("st.l", "st.b").head()
      var l = xs.head; var b = 0.0
      xs.tail.foreach { x =>
        val lp = 0.3 * x + 0.7 * (l + b)
        b = 0.1 * ((0.3 * x + 0.7 * (l + b)) - l) + 0.9 * b
        l = lp
      }
      assert(got.getDouble(0) == l && got.getDouble(1) == b,
        s"spark=(${got.getDouble(0)}, ${got.getDouble(1)}) scala=($l, $b)")
    }
  }

  test("DistributedOrder equals the single-partition window on random data") {
    // the value-identity law behind the r11 token-packing / ntile
    // rewrites: the two-phase prefix (range partition + local window +
    // broadcast offsets) must reproduce the global-order window EXACTLY,
    // for any data and any partition count — keys are made unique (the
    // documented total-order requirement) via the index tiebreaker
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gen = Gen.listOfN(200, Gen.chooseNum(-1000L, 1000L))
    forAll(gen, n = 4) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("k", "v").repartition(7)
      val cum = operators.DistributedOrder
        .globalCumsum(df, df, col("v"), "cum", col("k"))
        .select("k", "cum").as[(Long, Long)].collect().toMap
      val rn = operators.DistributedOrder
        .globalRowNumber(df, df, "rn", col("k"))
        .select("k", "rn").as[(Long, Long)].collect().toMap
      var run = 0L
      vs.zipWithIndex.foreach { case (v, i) =>
        run += v
        assert(cum(i.toLong) == run, s"cumsum at $i: ${cum(i.toLong)} vs $run")
        assert(rn(i.toLong) == i + 1L, s"rank at $i: ${rn(i.toLong)}")
      }
    }
  }
}
