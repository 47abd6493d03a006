package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Cross-implementation and invariant checks over the sf0.001 testdata
  * (SURVEY.md §5.4): two physical strategies for the same operator must
  * agree; selected as-of rows must satisfy the minimality invariant. */
class OperatorPropertiesSpec extends SparkSuite {

  test("dup n-grams: cross-doc spans reported, within-doc repeats excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y"),          // shares the 8-run with doc 2
      (2L, "z a b c d e f g h q"),
      (3L, "m n m n m n m n m n"),          // repeats WITHIN itself only
      (4L, "p q r s t u v")                 // 7 tokens: no 8-window at all
    ).toDF("doc_id", "text")
    val got = DedupOps.dupNgramsOf(docs, k = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // exactly the one shared window, seen once in each of two docs;
    // doc 3's self-repeated windows have n_docs == 1 and must not leak
    assert(got == Set(("a b c d e f g h", 2L, 2L)))
  }

  test("repetition stats: hand-computed Gopher filters, every doc kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),        // grams: "a b"x3, "b a"x2 -> all duplicated
      (2L, "p q r s"),            // all grams unique
      (3L, "solo")                // < 2 tokens: restored with zeros
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStatsOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("top_gram"), r.getAs[Long]("top_count"),
          r.getAs[Long]("top_chars"), r.getAs[Long]("dup_chars"),
          r.getAs[Boolean]("rep_ok"))).toMap
    // doc 1: n_chars=11, top gram "a b" count 3 covers 9 chars; dup grams
    // cover 3*3 + 2*3 = 15 chars; 15*5 > 11 -> fails the 0.2 gate
    assert(got(1L) == ((11L, 6L, "a b", 3L, 9L, 15L, false)))
    // doc 2: unique grams; tie on cnt=1 broken lexicographically ("p q")
    assert(got(2L) == ((7L, 4L, "p q", 1L, 3L, 0L, true)))
    // doc 3: no 2-gram windows; restore row with empty top gram, passes
    assert(got(3L) == ((4L, 1L, "", 0L, 0L, 0L, true)))
  }

  test("span scrub removes exactly the union of covered positions, keeps every doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y"),          // tokens 1-8 covered
      (2L, "z a b c d e f g h q"),          // tokens 2-9 covered
      (3L, "m n m n m n m n m n"),          // self-repeats only: untouched
      (4L, "p q r s t u v"),                // too short for a window
      (5L, "a b c d e f g h")               // ENTIRELY covered -> empty row
    ).toDF("doc_id", "text")
    val got = DedupOps.scrubSpansOf(docs, k = 8).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("x y", 2L),
      2L -> ("z q", 2L),
      3L -> ("m n m n m n m n m n", 10L),
      4L -> ("p q r s t u v", 7L),
      5L -> ("", 0L)))
  }

  test("span stats count windows and cross-doc dup windows per doc, zeros kept") {
    import spark.implicits._
    // spanStats reads the documents table; verify the counting core on
    // sf0.001 against an independent recompute of windows + dup set
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wins = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      (0 to t.length - 8).map(i => (id, t.slice(i, i + 8).mkString(" ")))
    }
    val dupGrams = wins.groupBy(_._2)
      .filter(_._2.map(_._1).distinct.length > 1).keySet
    val expect = docs.map { case (id, _) =>
      val mine = wins.filter(_._1 == id)
      id -> (mine.length.toLong, mine.count(w => dupGrams(w._2)).toLong)
    }.toMap
    val got = DedupOps.spanStats(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    assert(got.values.exists(_._2 > 0), "corpus should have dup windows")
  }

  test("span dedup keeps exactly the canonical (min doc_id, pos) occurrence") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y"),          // canonical copy: untouched
      (2L, "z a b c d e f g h q"),          // non-canonical: loses pos 2-9
      (5L, "a b c d e f g h")               // non-canonical: fully removed
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupSpansOf(docs, k = 8).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("a b c d e f g h x y", 10L),
      2L -> ("z q", 2L),
      5L -> ("", 0L)))
  }

  test("funnel matches a driver-side sequential scan per user") {
    import spark.implicits._
    val ev = graft.sources.Tables(spark, sf0001, "events")
      .select($"user_id", $"event_type",
        unix_timestamp($"ts".cast("timestamp")).cast("long").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def stage(tp: String, after: Map[Long, Long]): Map[Long, Long] =
      ev.filter(e => e._2 == tp && after.contains(e._1) &&
          e._3 > after(e._1))
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._3).min }
    val views = ev.filter(_._2 == "view").groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._3).min }
    val clicks = stage("click", views)
    val purchases = stage("purchase", clicks)
    val got = graft.queries.EventOps.funnel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getAs[Long]("depth"))).toMap
    assert(got.keySet == views.keySet)
    for ((u, tv) <- views) {
      val expect = (tv, clicks.get(u), purchases.get(u),
        1L + clicks.get(u).size + purchases.get(u).size)
      assert(got(u) == expect, s"user $u")
    }
  }

  test("funnel latency: groups cover clicked depths, p90 >= p50 >= 0") {
    val funnel = graft.queries.EventOps.funnel(spark, sf0001).collect()
    val clickedDepths = funnel.filter(!_.isNullAt(2))
      .map(_.getAs[Long]("depth")).toSet
    val rows = graft.queries.EventOps.funnelLatency(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("depth")).toSet == clickedDepths)
    for (r <- rows) {
      val (p50, p90) = (r.getAs[Double]("p50_view_to_click"),
        r.getAs[Double]("p90_view_to_click"))
      assert(p50 >= 0 && p90 >= p50)
      // depth-2 users never purchased: their stage-2 latency is NULL
      if (r.getAs[Long]("depth") == 2L) assert(r.isNullAt(4))
    }
  }

  test("cohort retention: offset-0 counts every user exactly once") {
    import spark.implicits._
    val rows = graft.queries.EventOps.cohortRetention(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall(_._2 >= 0))
    // a user is by definition active in their cohort week, so the
    // offset-0 diagonal sums to the distinct-user count
    val nUsers = graft.sources.Tables(spark, sf0001, "events")
      .select($"user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._3).sum == nUsers)
  }

  test("as-of: theta-join strategy == windowed strategy") {
    val a = EventOps.asofThetaJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = EventOps.asofWindowed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("as-of invariant: chosen purchase is the minimum strictly-later one") {
    import spark.implicits._
    val events = graft.sources.Tables(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"event_type",
        unix_timestamp($"ts".cast("timestamp")).as("ts_s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val purchasesByUser = events.filter(_._3 == "purchase")
      .groupBy(_._2).map { case (u, es) => u -> es.map(_._4).toSeq.sorted }
    val got = EventOps.asofThetaJoin(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, user, typ, ts) <- events if typ == "click") {
      val expected = purchasesByUser.getOrElse(user, Seq.empty[Long]).find(_ > ts)
      assert(got.get(id) == expected, s"event $id")
    }
  }

  test("sessionize: session count and coverage invariants") {
    val rows = EventOps.sessionize(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val events = graft.sources.Tables(spark, sf0001, "events").count()
    assert(rows.map(_._3).sum == events) // every event in exactly one session
    // session indexes are 1..n per user without gaps
    rows.groupBy(_._1).foreach { case (_, ss) =>
      val idx = ss.map(_._2).toSeq.sorted
      assert(idx == (1L to idx.length.toLong))
    }
  }

  test("minhash LSH output == brute-force shingle Jaccard >= 0.5") {
    import spark.implicits._
    val lsh = DedupOps.minhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs on the small SF
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(size($"tok") >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(tok) - 2), " +
          "i -> concat_ws(' ', slice(tok, i, 3))))"))
      .select($"doc_id", $"sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (ai, as) <- docs; (bi, bs) <- docs if ai < bi
      j = (as & bs).size.toDouble / (as | bs).size
      if j >= 0.5
    } yield (ai, bi)).toSet
    assert(lsh == brute)
    assert(brute.nonEmpty)
  }

  test("prefix-filtered Jaccard pairs == all-pairs verification spec") {
    // q38's PPJoin prefix blocking must lose NO pair vs the O(block²)
    // spec form; sf0.01 is the smallest SF where near-dup pairs exist.
    val sf001 = "/root/testdata/sf0.01"
    val spec = DedupOps.jaccardPairs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = DedupOps.jaccardPairsPrefix(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref == spec)
    assert(spec.nonEmpty)
  }

  test("similar neighbors: contiguous ranks, non-increasing similarity") {
    val rows = DedupOps.similarNeighbors(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("jaccard"), r.getAs[Long]("rk")))
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_._1)) {
      val ordered = g.sortBy(_._4)
      assert(ordered.map(_._4).toSeq == (1L to ordered.length).toSeq)
      assert(ordered.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3
        case _ => true
      })
      assert(g.forall(_._3 >= 0.5))
    }
    // provenance: every listed neighbor is a verified pair (either order)
    val pairs = DedupOps.verifiedPairs(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    for ((d, n, _, _) <- rows)
      assert(pairs.contains((d, n)) || pairs.contains((n, d)), s"($d,$n)")
  }

  test("dup pagerank == driver-side 3-round integer recompute") {
    import spark.implicits._
    val pairs = DedupOps.verifiedPairs(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id").collect().map(_.getLong(0))
    var rank = docs.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val sc = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / deg(u) }.sum }
      rank = docs.map(d =>
        d -> (150000L + 85L * sc.getOrElse(d, 0L) / 100L)).toMap
    }
    val got = DedupOps.dupPagerank(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rank)
    // hubs exist: some doc in the pair graph outranks the isolated mass
    assert(got.values.max > 150000L)
  }

  test("dup clusters == driver-side union-find over the same pair graph") {
    val sf001 = "/root/testdata/sf0.01"
    val pairs = DedupOps.minhashLsh(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = DedupOps.dupClusters(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 500)
    for ((doc, c) <- got) assert(c == find(doc), s"doc $doc")
    // at least one real multi-doc cluster exists at this SF
    assert(got.exists { case (d, c) => d != c })
  }

  test("dup clusters fail loudly when the round cap precludes convergence") {
    // any non-empty edge set needs >= 2 rounds (one to propagate, one to
    // observe quiescence), so maxRounds = 1 must throw, never return
    // possibly-unconverged labels
    val e = intercept[IllegalStateException] {
      DedupOps.dupClusters(spark, "/root/testdata/sf0.01", maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("exact dedup keeps every doc exactly once when all texts distinct") {
    assert(DedupOps.exactDedup(spark, sf0001).count() == 500)
  }

  test("verifiedPairs memo: newSession clones share one materialization") {
    Artifacts.invalidateAll()
    val first = DedupOps.verifiedPairs(spark, sf0001)
    // a session clone shares the SparkContext (and thus the cached
    // blocks) — it must get the SAME memoized frame, not re-mine
    val clone = spark.newSession()
    assert(DedupOps.verifiedPairs(clone, sf0001) eq first)
    assert(DedupOps.verifiedPairs(spark, sf0001) eq first)
    Artifacts.invalidateAll()
    val fresh = DedupOps.verifiedPairs(spark, sf0001)
    assert(!(fresh eq first))
    Artifacts.invalidateAll()
  }

  test("dedupCorpus keeps exactly one survivor per cluster, the longest doc") {
    import spark.implicits._
    val labels = DedupOps.clusterLabels(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chars = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = DedupOps.dedupCorpus(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // one survivor per cluster, covering every cluster
    assert(survivors.map(_._2).distinct.length == survivors.length)
    assert(survivors.map(_._2).toSet == labels.values.toSet)
    // the survivor is its cluster's longest doc (min id on ties)
    val byCluster = labels.groupBy(_._2)
    survivors.foreach { case (doc, c) =>
      val best = byCluster(c).keys.toSeq
        .sortBy(d => (-chars(d), d)).head
      assert(doc == best, s"cluster $c kept $doc, expected $best")
    }
  }

  test("knn top-5 ranking is consistent with a driver-side brute force") {
    import spark.implicits._
    val vecs = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q = vecs.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += (a(i) * b(i)).toDouble
        na += (a(i) * a(i)).toDouble; nb += (b(i) * b(i)).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
    val got = VectorOps.knnTopK(spark, sf0001).orderBy("rank").collect()
      .map(_.getLong(1)).toSeq
    assert(got == expected)
  }

  test("star-contraction components == union-find on random graphs and a long path") {
    import spark.implicits._
    // driver-side union-find reference
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val rnd = new scala.util.Random(11)
    // three random graphs of mixed density (self-loops + dups included)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(40 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = graft.operators.Operators
        .connectedComponentsStar(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(n, edges)
      val touched = edges.flatMap(e => Seq(e._1, e._2))
        .filter(id => edges.exists(e =>
          (e._1 == id || e._2 == id) && e._1 != e._2)).toSet
      assert(got.keySet == touched, s"trial $trial node set")
      for ((node, label) <- got)
        assert(label == want(node), s"trial $trial node $node")
    }
    // the diameter-400 path graph min-label propagation refuses (q45
    // caps at 50 rounds): star contraction must converge in O(log n)
    val path = (0L until 400L).sliding(2).map(w => (w(0), w(1))).toSeq
    val labels = graft.operators.Operators
      .connectedComponentsStar(path.toDF("u", "v"), maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 400 && labels.forall(_._2 == 0L),
      "path graph did not contract to component minimum 0")
  }

  test("oriented triangle counts == brute-force enumeration on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 30
      // distinct a<b edges, density high enough to force triangles
      val edges = Seq.fill(80 + rnd.nextInt(60)) {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(e => e._1 != e._2).distinct
      val got = DedupOps.triangleCountsOf(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver-side brute force over all vertex triples
      val adj = edges.toSet
      def conn(x: Long, y: Long) =
        adj.contains((math.min(x, y), math.max(x, y)))
      val want = (for {
        a <- 0L until n.toLong; b <- a + 1 until n.toLong
        c <- b + 1 until n.toLong
        if conn(a, b) && conn(b, c) && conn(a, c)
      } yield Seq(a, b, c)).flatten
        .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      assert(got == want, s"trial $trial")
    }
  }

  test("largest-remainder apportionment: quotas sum exactly to the " +
    "budget and never stray from base/base+1 on random counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val budget = 10000L + rnd.nextInt(90000)
      val counts = (0 until 2 + rnd.nextInt(8)).map(i =>
        (f"l$i%02d", 1L + rnd.nextInt(100000)))
      val got = PipelineOps.budgetApportionOf(
        counts.toDF("lang", "n_tokens").orderBy("lang").limit(1000), budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val total = counts.map(_._2).sum
      assert(got.map(_._3).sum == budget, s"trial $trial sum")
      for ((lang, n, quota) <- got) {
        val base = budget * n / total
        assert(quota == base || quota == base + 1,
          s"trial $trial $lang quota=$quota base=$base")
      }
    }
  }

  test("histogram quantile sketch == driver reference; estimate brackets " +
    "the true order statistic within one bin") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = for {
      t <- Seq("a", "b", "c")
      _ <- 1 to 200 + rnd.nextInt(200)
    } yield (t, rnd.nextGaussian() * 40 + rnd.nextInt(100))
    val got = EventOps.histogramQuantilesOf(rows.toDF("event_type", "value"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((t, vs) <- rows.groupBy(_._1)) {
      val values = vs.map(_._2)
      val n = values.size.toLong
      val sortedBins = values.map(v => math.floor(v / 5.0).toLong)
        .groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      def est(p: Long): Double = {
        var cum = 0L
        sortedBins.find { case (_, c) =>
          cum += c; cum * 100 >= n * p }.get._1 * 5.0
      }
      assert(got(t) == ((n, est(50), est(90), est(99))), s"type $t")
      // the ceil(p*n/100)-th order statistic falls inside the est bin
      val sorted = values.sorted
      for (p <- Seq(50L, 90L, 99L)) {
        val k = ((n * p + 99) / 100).toInt // ceil
        val os = sorted(k - 1)
        val e = est(p)
        assert(e <= os && os < e + 5.0, s"type $t p$p est=$e os=$os")
      }
    }
  }

  test("quota draw admits exactly up to each language's apportioned quota") {
    import spark.implicits._
    val budget = 800L
    val quotas = PipelineOps.budgetApportion(spark, sf0001, budget)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(quotas.values.sum == budget)
    val drawn = PipelineOps.quotaSample(spark, sf0001, budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val langTotals = graft.sources.Tables(spark, sf0001, "documents")
      .groupBy($"lang")
      .agg(sum(size(split($"text", " ")).cast("long")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, rows) <- drawn.groupBy(_._1)) {
      val q = quotas(lang)
      // every admitted doc started under quota
      assert(rows.forall(_._4 < q), s"$lang: admitted doc at/after quota")
      // the draw CLOSED: tokens reach the quota, or the language ran dry
      val total = rows.map(_._3).sum
      assert(total >= math.min(q, langTotals(lang)),
        s"$lang drew $total of quota $q (corpus ${langTotals(lang)})")
      // overshoot is bounded by the last admitted doc
      assert(total - rows.map(_._3).max < q || total <= langTotals(lang),
        s"$lang overshoot beyond one document")
    }
  }

  test("HLL estimate derived from the q114 registers lands within 25% " +
    "of the exact per-source vocabulary") {
    val m = 64
    val regs = TextOps.hllRegisters(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val exact = TextOps.sourceVocab(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val alpha = 0.7213 / (1 + 1.079 / m)
    for ((source, rows) <- regs) {
      // classic HLL register = max leading-zero rank, recovered from
      // the stored min tail via monotone bit length
      val ranks = Array.fill(m)(0)
      for ((_, reg, minTail) <- rows) {
        val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(minTail)
        ranks(reg.toInt) = 54 - bitlen + 1
      }
      val raw = alpha * m * m / ranks.map(r => math.pow(2.0, -r)).sum
      val zeros = ranks.count(_ == 0)
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
        else raw
      val n = exact(source).toDouble
      assert(math.abs(est - n) / n < 0.25,
        s"$source: est=$est exact=$n")
    }
  }

  test("q115 verdict equals a full driver-side reference of the " +
    "cell-scoped policy") {
    val vecs = VectorOps.docVectors(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // reference: same quantization, same grid argmin (dist, cell)
    // tie-break, same count-space L2 <= 8 policy
    val cents = VectorOps.ivfGridCentroids()
    def cellOf(v: Array[Float]): Int = {
      val q = v.map(x => math.floor(x.toDouble * 1024).toLong)
      cents.zipWithIndex.map { case (ct, i) =>
        (ct.zip(q).map { case (c, x) => val t = x - c; t * t }.sum, i)
      }.min._2
    }
    val byCell = vecs.groupBy { case (_, v) => cellOf(v) }
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val wantDropped = byCell.values.flatMap { members =>
      val sorted = members.sortBy(_._1)
      sorted.collect { case (bId, bV) if sorted.exists { case (aId, aV) =>
        aId < bId && l2(aV, bV) <= 8.0 } => bId }
    }.toSet
    val got = VectorOps.docSemanticDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    assert(got.length == vecs.length)
    for ((id, kept) <- got)
      assert(kept == !wantDropped(id), s"doc $id kept=$kept")
  }

  test("k-core peeling == driver-side reference peel on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    for ((trial, k) <- Seq((1, 2), (2, 2), (3, 3))) {
      val n = 40
      val edges = Seq.fill(50 + rnd.nextInt(60)) {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(e => e._1 != e._2).distinct
      val got = DedupOps.kCoreVertices(edges.toDF("a_id", "b_id"), k,
        maxRounds = 40)
        .collect().map(_.getLong(0)).toSet
      // reference: peel until fixpoint
      var alive = edges.flatMap(e => Seq(e._1, e._2)).toSet
      var changed = true
      while (changed) {
        val deg = edges.filter(e => alive(e._1) && alive(e._2))
          .flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (x, xs) => x -> xs.size }
        val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
        changed = next != alive
        alive = next
      }
      assert(got == alive, s"trial $trial k=$k")
    }
  }

  test("bigram score matches hand-computed conditional surrogates") {
    import spark.implicits._
    // c(a,b)=3 c(b,a)=1 c(b,c)=1; starts: a->3, b->2
    // cond(a,b) = 3e6 div 3 = 1e6; cond(b,a) = cond(b,c) = 1e6 div 2
    val docs = Seq(
      (1L, "a b a b"),   // pairs (a,b),(b,a),(a,b)
      (2L, "a b c"),     // pairs (a,b),(b,c)
      (3L, "x")          // no bigram: restore row with zeros
    ).toDF("doc_id", "text")
    val got = TextOps.bigramScoreOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ((3L, 2500000L, 833333L)))
    assert(got(2L) == ((2L, 1500000L, 750000L)))
    assert(got(3L) == ((0L, 0L, 0L)))
    // the gibberish property on the real corpus: reversing a document's
    // tokens keeps its q82 unigram mean identical but must not INCREASE
    // its bigram transition score corpus-wide (order is the signal)
    val real = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val reversed = real.select($"doc_id",
      concat_ws(" ", reverse(split($"text", " "))).as("text"))
    def total(df: org.apache.spark.sql.DataFrame): Long =
      TextOps.bigramScoreOf(df).agg(sum($"sum_cond")).head.getLong(0)
    assert(total(reversed) < total(real),
      "reversed corpus scored >= original: transitions carry no signal?")
  }

  test("collocations match a hand-computed reference; prune is sound") {
    import spark.implicits._
    // doc-freqs: a:3 b:2 c:2 x:1 y:1 -> minSupport=2 keeps {a,b,c};
    // doc 4's repeated c counts once (distinct-per-doc semantics)
    val docs = Seq(
      (1L, "a b c"), (2L, "a b"), (3L, "a x"), (4L, "c y c")
    ).toDF("doc_id", "text")
    val got = TextOps.collocationsOf(docs, minSupport = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(
      ("a", "b", 2L, 3L, 2L, 1000000L),   // conf = 2e6 div min(3,2)
      ("a", "c", 1L, 3L, 2L, 500000L),
      ("b", "c", 1L, 2L, 2L, 500000L)))
    // Apriori soundness on the real corpus: every emitted pair's ends
    // meet support, and co-occurrence never exceeds either end's freq
    val real = TextOps.collocations(spark, sf0001).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val (nab, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(na >= 5 && nb >= 5 && nab >= 1 && nab <= math.min(na, nb))
      assert(r.getLong(5) == 1000000L * nab / math.min(na, nb))
    }
  }

  test("count-min sketch: mass conservation per row; estimates never undercount") {
    import spark.implicits._
    val tokens = graft.sources.Tables(spark, sf0001, "documents")
      .select(explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
    val nTok = tokens.count()
    val sk = TextOps.cmSketch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every hash row sees every occurrence exactly once
    val totals = sk.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(totals.keySet == Set(0L, 1L, 2L, 3L))
    assert(totals.values.forall(_ == nTok), s"row totals $totals != $nTok")
    assert(sk.forall { case (_, b, c) => b >= 0 && b < 256 && c > 0 })
    // the CM guarantee: min-over-rows estimate >= exact, per query term
    val est = TextOps.cmEstimate(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == Set("spark", "window", "merge"))
    val exact = tokens.filter($"token".isin("spark", "window", "merge"))
      .groupBy($"token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (t, e) =>
      assert(e >= exact.getOrElse(t, 0L), s"$t: est $e < exact $exact")
    }
  }

  test("more-like-this: hand-computed scores, tie on doc_id, self excluded") {
    import spark.implicits._
    // dfs all 2 (a,b,c,x shared by two docs); query doc 0 has a:1 b:2 c:1.
    // doc 1 shares a(tf1), b(tf1): 1*1*500000 + 2*1*500000 = 1_500_000
    // doc 2 shares c(tf3):         1*3*500000             = 1_500_000
    // tie -> doc_id ascending; doc 3 shares nothing -> absent
    val docs = Seq(
      (0L, "a b b c"), (1L, "a b x"), (2L, "c c c"), (3L, "x y z")
    ).toDF("doc_id", "text")
    val got = TextOps.moreLikeThisOf(docs, queryDoc = 0L, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1500000L, 2L), (2L, 1500000L, 1L)))
    // real corpus: query doc never appears in its own result, scores
    // are non-increasing, and the k-boundary is deterministic
    val real = TextOps.moreLikeThis(spark, sf0001).collect()
    assert(real.nonEmpty && real.forall(_.getLong(0) != 0L))
    val scores = real.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted(Ordering[Long].reverse))
  }

  test("funnel latency: depth-2 users yield a NULL click->purchase percentile") {
    import spark.implicits._
    // the depth-2 branch (clicked but never purchased) was unexercised
    // by the corpus at oracle scale (ADVICE r5) — assert it on a
    // synthetic event set where it MUST appear:
    //   user 1: view(10) -> click(20) -> purchase(50)   depth 3
    //   user 2: view(10) -> click(40), no purchase       depth 2
    //   user 3: view(10) -> click(60), purchase BEFORE the click (30)
    //           -> stays depth 2 (stage rule is strictly-after)
    //   user 4: view only                                depth 1, excluded
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 50L),
      (2L, "view", 10L), (2L, "click", 40L),
      (3L, "view", 10L), (3L, "purchase", 30L), (3L, "click", 60L),
      (4L, "view", 10L)
    ).toDF("user_id", "event_type", "t")
    val fun = EventOps.funnelOf(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(fun == Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    val lat = EventOps.funnelLatencyOf(ev).collect()
      .map(r => r.getAs[Long]("depth") ->
        (r.getAs[Long]("n_users"), r.getAs[Any]("p50_view_to_click"),
          r.getAs[Any]("p50_click_to_purchase"))).toMap
    // depth 3: one user, view->click 10 s, click->purchase 30 s
    assert(lat(3L) == ((1L, 10.0, 30.0)))
    // depth 2: two users (30 s and 50 s view->click, median 40), and the
    // click->purchase percentile is NULL — no purchase exists after the
    // click, and percentile ignores NULL inputs in both engines
    assert(lat(2L) == ((2L, 40.0, null)))
    // depth-1 users never clicked and are excluded from the profile
    assert(!lat.contains(1L))
  }

  test("probe monotonicity: probe-2 flags a superset of probe-1, both " +
      "subsets of the global truth; the q125 report counts them exactly") {
    import spark.implicits._
    def flagged(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(!$"kept").select($"vec_id").collect()
        .map(_.getLong(0)).toSet
    val p1 = flagged(VectorOps.semanticDedup(spark, sf0001))
    val p2 = flagged(VectorOps.semanticDedupProbe2(spark, sf0001))
    // a pair sharing its primary cell still shares a probed cell, so
    // probe-2's candidate set — and its verdicts — can only grow
    assert(p1.subsetOf(p2), s"probe1 extra: ${p1.diff(p2)}")
    val report = VectorOps.probeRecall(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val nTrue = report("global")._1
    assert(report("global") == ((nTrue, nTrue, 1000000L)))
    assert(report("probe1")._2 == p1.size.toLong)
    assert(report("probe2")._2 == p2.size.toLong)
    // flagged ⊆ true: every cell-flagged vector has an exact-verified
    // lower-id neighbor, so it must appear in the global arm
    assert(report("probe1")._2 <= nTrue && report("probe2")._2 <= nTrue)
    assert(report("probe1")._3 <= report("probe2")._3)
  }

  test("q143 survivor policies: one per cluster, longest maximizes chars") {
    val rows = DedupOps.survivorPolicies(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet ==
      Set("keep_longest", "keep_shortest", "keep_first"))
    // every policy keeps exactly one survivor per cluster
    val nClusters = DedupOps.clusterLabels(spark, sf0001)
      .select("cluster_id").distinct().count()
    rows.values.foreach { case (n, _, _) => assert(n == nClusters) }
    // the shipped policy retains the most text, disagrees with itself 0
    val (_, lgChars, lgDif) = rows("keep_longest")
    assert(lgDif == 0)
    assert(lgChars >= rows("keep_shortest")._2)
    assert(lgChars >= rows("keep_first")._2)
    // and it matches q59's survivors exactly
    val q59Chars = DedupOps.dedupCorpus(spark, sf0001)
      .join(graft.sources.Tables(spark, sf0001, "documents"), "doc_id")
      .agg(sum(col("n_chars"))).head.getLong(0)
    assert(lgChars == q59Chars, "keep_longest must BE the shipped q59")
  }

  test("q142 vocab drift: head bounded, ppm arithmetic, top-k plan shape") {
    val df = TextOps.vocabDrift(spark, sf0001)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach { case (_, _, _, c, d, drift) =>
      assert(c >= 0 && c <= 1000000L && d >= 0 && d <= 1000000L)
      assert(drift == math.abs(d - c))
    }
    // the head is the top terms by corpus count — no term outside the
    // report may exceed the report's minimum corpus count
    val minInReport = rows.map(_._2).min
    val allCounts = graft.sources.Tables(spark, sf0001, "documents")
      .select(explode(split(col("text"), " ")).as("term"),
        (substring(md5(col("doc_id").cast("string")), 1, 2) < "1a")
          .as("is_delta"))
      .filter(col("term") =!= "").filter(!col("is_delta"))
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val inReport = rows.map(_._1).toSet
    allCounts.filterNot(kv => inReport(kv._1)).values
      .foreach(c => assert(c <= minInReport))
    // the top-k must plan TakeOrderedAndProject, not a global window
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q138 curriculum: total order laws, quintile balance at bin granularity") {
    val rows = TextOps.curriculumPhase(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every doc appears once with a phase in 1..5
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall(r => r._3 >= 1 && r._3 <= 5))
    // phase is antitone in score: a higher score can never land in a
    // LATER phase (phase 1 = easiest = highest-score quintile)
    val byScore = rows.sortBy(_._2)
    byScore.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._3 >= hi._3,
        s"score ${lo._2} phase ${lo._3} vs score ${hi._2} phase ${hi._3}")
    case _ => ()
    }
    // quintiles balance within bin granularity: each phase holds
    // ≥ 5% and ≤ 60% of docs at this tiny SF (bin-granular cutoffs
    // cannot split a bin, so exact 20% is not promised)
    val n = rows.length.toDouble
    for ((p, g) <- rows.groupBy(_._3)) {
      assert(g.length / n >= 0.05 && g.length / n <= 0.60,
        s"phase $p holds ${g.length}/$n")
    }
    // order keys are the deterministic md5 device: re-run is identical
    val again = TextOps.curriculumPhase(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSet == again.toSet)
  }

  test("q160 waterfill invariants on skewed random masses: budget " +
      "closes exactly, caps respected, uncapped shares within 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // heavy skew so BOTH branches exercise (sf data caps nothing:
    // every source there is above the water level)
    for (trial <- 0 until 5) {
      val masses = (0 until 12).map(i =>
        (s"s$i%02d", if (rnd.nextBoolean()) rnd.nextInt(20).toLong + 1
         else rnd.nextInt(100000).toLong + 1000))
      val rows = PipelineOps.unimaxMixOf(masses.toDF("source", "n_tokens"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val total = masses.map(_._2).sum
      assert(rows.map(_._3).sum == total / 2,
        s"trial $trial: allocation must close exactly at the budget")
      for ((src, n, alloc, capped, ppm) <- rows) {
        assert(alloc <= n, s"$src overdraws")
        if (capped == 1L) assert(alloc == n, s"$src capped but partial")
        assert(ppm == (if (n == 0) 0L else alloc * 1000000L / n))
      }
      val uncapped = rows.filter(_._4 == 0L).map(_._3)
      if (uncapped.nonEmpty)
        assert(uncapped.max - uncapped.min <= 1L,
          s"trial $trial: uncapped shares must be equal within 1")
      // the skew must actually produce capped sources in most trials
      if (masses.count(_._2 < 100) >= 3)
        assert(rows.exists(_._4 == 1L), s"trial $trial: no caps hit")
    }
  }

  test("q162 temperature-mix invariants on random masses: budget " +
      "closes exactly, allocation monotone in mass, epoch share " +
      "tilts toward low-resource langs") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    for (trial <- 0 until 5) {
      val budget = 1000000L
      val masses = (0 until 12).map(i =>
        (f"l$i%02d", rnd.nextInt(1000000).toLong + 100))
      val rows = PipelineOps
        .temperatureMixOf(masses.toDF("lang", "n_tokens"), budget)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // Hamilton closure: the allocation sums EXACTLY to the budget
      assert(rows.map(_._4).sum == budget,
        s"trial $trial: allocation must close exactly")
      for ((lang, n, w, alloc, ppm) <- rows) {
        assert(w == math.sqrt(n.toDouble).floor.toLong, s"$lang weight")
        assert(ppm == (if (n == 0) 0L else alloc * 1000000L / n))
      }
      // monotone in weight up to the ±1 largest-remainder grain
      for (Array(a, b) <- rows.sortBy(_._3).sliding(2))
        assert(b._4 >= a._4 - 1,
          s"trial $trial: alloc must not decrease in weight " +
            s"(${a._1}:${a._4} vs ${b._1}:${b._4})")
      // the temperature tilt: a lang with >=4x the mass gets at most
      // ~half the per-token draw rate (alpha=1/2), never more
      for (big <- rows; small <- rows
           if big._2 >= 4 * small._2 && small._5 > 100)
        assert(big._5 <= small._5,
          s"trial $trial: epoch_ppm must tilt low-resource " +
            s"(${big._1}:${big._5} vs ${small._1}:${small._5})")
    }
    // at equal masses temperature == proportional == equal split
    val eq = PipelineOps.temperatureMixOf(
      (0 until 8).map(i => (f"e$i%02d", 4096L)).toDF("lang", "n_tokens"),
      800L).collect()
    assert(eq.forall(_.getLong(3) == 100L),
      "equal masses must split the budget equally at any alpha")
  }

  test("q165 DSIR draw: per-bin ranks contiguous from 1, quota " +
      "respected, zero-weight docs never drawn, re-run identical") {
    val rows = PipelineOps.dsirDraw(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 > 0), "zero-weight docs must never draw")
    for ((bin, g) <- rows.groupBy(_._2)) {
      val q = g.head._4
      assert(g.forall(_._4 == q), s"bin $bin: one quota per bin")
      assert(g.length <= q, s"bin $bin overdraws its quota")
      assert(g.map(_._5).sorted.toSeq == (1L to g.length.toLong),
        s"bin $bin: draw ranks must be contiguous from 1")
    }
    // if every bin filled its quota, the draw closes at the target
    val totalQuota = rows.groupBy(_._2).view.mapValues(_.head._4)
      .values.sum
    if (rows.groupBy(_._2).forall { case (_, g) => g.length == g.head._4 }
        && totalQuota == PipelineOps.DsirDrawDocs)
      assert(rows.length.toLong == PipelineOps.DsirDrawDocs)
    val again = PipelineOps.dsirDraw(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSet == again.toSet)
  }

  test("q169/q170: contagion votes are cluster-consistent and bitext " +
      "pairs are oriented, cross-lingual, and within threshold") {
    val cq = PipelineOps.clusterQuality(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(cq.nonEmpty)
    for ((_, g) <- cq.groupBy(_._2)) {
      // every member of a cluster sees the same size, verdict, and
      // consensus — the vote is cluster-level by construction
      assert(g.map(t => (t._3, t._5, t._6)).distinct.length == 1)
      val (csize, nPassPpm) = (g.head._3, g.head._6)
      assert(g.length.toLong == csize, "csize must equal member count")
      val nPass = g.map(_._4).sum
      assert(nPassPpm == nPass * 1000000L / csize)
      assert(g.head._5 == (if (2 * nPass > csize) 1L else 0L),
        "strict majority with ties demoting")
      g.foreach(t => assert(t._7 == (if (t._5 != t._4) 1L else 0L)))
    }
    val bt = graft.queries.VectorOps.bitextPairs(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    for ((aId, aLang, bId, bLang, d2q) <- bt) {
      assert(aLang < bLang, "pairs oriented by language order")
      assert(aId != bId)
      assert(d2q >= 0 && d2q <= 32L * 1024L * 1024L,
        s"distance $d2q outside the q126 threshold domain")
    }
    // no unordered pair twice
    assert(bt.map(t => (t._1, t._3)).distinct.length == bt.length)
  }

  test("q163 epoch shuffle: every epoch is a valid within-shard " +
      "permutation, epochs genuinely reorder, re-run is identical") {
    val rows = PipelineOps.epochShuffle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // per (epoch, shard): pos is exactly 1..n and seq is exactly 0..n-1
    for (((e, sh), g) <- rows.groupBy(r => (r._1, r._2))) {
      assert(g.map(_._4).sorted.toSeq == (1L to g.length.toLong),
        s"epoch $e shard $sh: pos must be a 1..n permutation")
      assert(g.map(_._3).sorted.toSeq == (0L until g.length.toLong),
        s"epoch $e shard $sh: every sequence visited exactly once")
    }
    // same sequence set every epoch; different visit order (the salt
    // works) for at least one multi-sequence shard
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == (0L until PipelineOps.ShuffleEpochs).toSet)
    val orders = byEpoch.view.mapValues(
      _.sortBy(r => (r._2, r._4)).map(r => (r._2, r._3)).toSeq).toMap
    assert(orders(0L).toSet == orders(1L).toSet)
    assert(orders(0L) != orders(1L) || orders(1L) != orders(2L),
      "epoch salt must produce distinct permutations")
    // global_step round-robin: distinct across rows within an epoch
    for ((e, g) <- byEpoch)
      assert(g.map(_._5).distinct.length == g.length,
        s"epoch $e: global_step must be collision-free")
    // determinism: a second derivation is byte-identical
    val again = PipelineOps.epochShuffle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSet == again.toSet)
  }

  test("q195 containment: whole-quote inclusion fires asym_only where " +
      "Jaccard stays silent; symmetric near-copies do not") {
    import spark.implicits._
    val quoted = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, quoted), // 8 shingles, quoted whole inside doc 2
      (2L, quoted + " " + (1 to 40).map(i => s"y$i").mkString(" ")),
      (3L, "p q r s t u v w"), // near-copy pair 3/4: symmetric
      (4L, "p q r s t u v z"),
      (5L, "lone doc about nothing shared")
    ).toDF("doc_id", "text")
    val got = DedupOps.containmentPairsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    // (1,2): A ⊂ B → containment(A→B) = 1.0 exactly; Jaccard = 8/48
    // (8 shared of 8 + 48 − 8) — the asymmetric-only alarm fires
    val (cab, _, jac, asym) = got((1L, 2L))
    assert(cab == 1000000L, s"full containment expected: $cab")
    assert(jac < 500000L && asym, s"jac=$jac asym=$asym")
    // (3,4): 7 of 8 tokens shared → 5 of 6 shingles each side =
    // 833333 ppm both directions — fires as a SYMMETRIC near-copy:
    // Jaccard 5/7 ≥ 0.5, so asym_only stays false
    val (c34, c43, j34, a34) = got((3L, 4L))
    assert(c34 == 833333L && c43 == 833333L, s"$c34/$c43")
    assert(j34 >= 500000L && !a34, s"jac=$j34 asym=$a34")
    // doc 5 shares nothing: in no pair
    assert(!got.keys.exists(k => k._1 == 5L || k._2 == 5L))
  }

  test("q195 hot arm: with a df cap of 2 the core shingles go hot and " +
      "the split count (rare count-join + hot-array scan) still equals " +
      "the exact intersection; hot-only pairs stay non-candidates") {
    import spark.implicits._
    // core shingles appear in all four docs (df 4 > cap 2 → HOT);
    // docs 1 and 2 additionally share a rare (df 2) p-trigram edge,
    // so (1,2) is a candidate whose intersection is MOSTLY hot;
    // (x,3)/(x,4) pairs share only hot core shingles → no rare edge
    // → by the documented candidate rule they must NOT appear
    val core = (1 to 9).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, core + " p1 p2 p3"),
      (2L, core + " p1 p2 p3"),
      (3L, core + " wa wb wc"),
      (4L, core + " " + (1 to 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = DedupOps.containmentPairsOf(docs, dfCap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    // brute-force reference: same shingle definition, same candidate
    // rule (≥1 shared shingle with df ≤ cap), exact intersections
    val sh = docs.collect().map { r =>
      val t = r.getString(1).split(" ")
      r.getLong(0) -> (1 to t.length - 2)
        .map(i => t.slice(i - 1, i + 2).mkString(" ")).distinct.toSet
    }.toMap
    val dfOf = sh.values.flatten.groupBy(identity)
      .view.mapValues(_.size).toMap
    val expect = (for {
      a <- sh.keys.toSeq; b <- sh.keys.toSeq if a < b
      shared = sh(a) & sh(b)
      if shared.exists(s => dfOf(s) <= 2)
      inter = shared.size.toLong
      na = sh(a).size.toLong; nb = sh(b).size.toLong
      cab = inter * 1000000 / na; cba = inter * 1000000 / nb
      if math.max(cab, cba) >= 800000
      jac = inter * 1000000 / (na + nb - inter)
    } yield (a, b) -> (cab, cba, jac, jac < 500000)).toMap
    assert(expect.contains((1L, 2L)),
      "construction must yield the hot-heavy candidate pair")
    assert(got == expect, s"got=$got expect=$expect")
    // and the exact-copy pair is full containment both ways
    assert(got((1L, 2L))._1 == 1000000L && got((1L, 2L))._2 == 1000000L)
  }

  test("q180 promo-window load: grid decomposition equals the theta join") {
    import spark.implicits._
    val got = EventOps.promoWindowLoad(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the plain (unscalable) theta join over the same data —
    // the semantics the bucket rewrite must reproduce exactly
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select($"event_id", $"event_type",
        unix_timestamp($"ts").cast("long").as("t"), $"value")
    val pur = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"t".as("start_s"),
        ($"t" + lit(60L) + floor($"value").cast("long")).as("end_s"))
    val ck = ev.filter($"event_type" === "click").select($"t".as("c_s"))
    val ref = pur.join(ck, $"c_s" >= $"start_s" && $"c_s" < $"end_s",
        "left")
      .groupBy($"event_id").agg(count($"c_s").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    assert(got.valuesIterator.exists(_ > 0L), "windows must catch clicks")
    assert(got.valuesIterator.exists(_ == 0L) || got.size == ref.size)
  }

  test("q185 vocab-overlap sketch: mergeability law + inclusion-" +
      "exclusion estimates within 25% of exact intersections") {
    import spark.implicits._
    val merged = TextOps.vocabOverlapSketch(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getLong(3)))
    val regs = TextOps.hllRegisters(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.map(x => x._2 -> x._3).toMap).toMap
    // (1) mergeability law: the pair sketch is the elementwise min of
    // the members — and equals a from-scratch sketch of the pooled
    // corpus (recompute one pair by relabeling both sources)
    val pairs = merged.map(_._1).distinct
    assert(pairs.length ==
      regs.size * (regs.size - 1) / 2, "one sketch per source pair")
    for (((a, b), reg, t) <- merged)
      assert(t == math.min(
        regs(a).getOrElse(reg, Long.MaxValue),
        regs(b).getOrElse(reg, Long.MaxValue)))
    val (pa, pb) = pairs.head
    val pooled = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"source".isin(pa, pb))
      .withColumn("source", lit("pooled"))
    val fromScratch = TextOps.hllRegistersOf(pooled).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(merged.filter(_._1 == (pa, pb))
      .map(x => x._2 -> x._3).toMap == fromScratch,
      "pair sketch must equal the sketch of the pooled corpus")
    // (2) estimate accuracy: |A∩B| ≈ est(A) + est(B) − est(A∪B)
    val m = 64
    val alpha = 0.7213 / (1 + 1.079 / m)
    def est(d: Map[Long, Long]): Double = {
      val ranks = Array.fill(m)(0)
      for ((reg, minTail) <- d)
        ranks(reg.toInt) =
          54 - (64 - java.lang.Long.numberOfLeadingZeros(minTail)) + 1
      val raw = alpha * m * m / ranks.map(r => math.pow(2.0, -r)).sum
      val zeros = ranks.count(_ == 0)
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    }
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"source", explode(split($"text", " ")).as("t"))
      .filter($"t" =!= "").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((a, b) <- pairs) {
      val u = merged.filter(_._1 == (a, b)).map(x => x._2 -> x._3).toMap
      val estOverlap = est(regs(a)) + est(regs(b)) - est(u)
      val exact = (toks(a) & toks(b)).size.toDouble
      assert(math.abs(estOverlap - exact) / math.max(exact, 1.0) < 0.25,
        s"($a,$b): est=$estOverlap exact=$exact")
    }
  }

  test("q183 MMR rerank equals an independent driver reference of the " +
      "greedy policy") {
    import spark.implicits._
    val got = VectorOps.mmrRerank(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toList.sortBy(_._1)
    // reference: FloatVecDot's exact arithmetic (float products, double
    // accumulation) + the same λ=1/2 greedy, written independently
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += (a(i) * b(i)).toDouble; i += 1 }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val s = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      if (s.isNaN) Double.NegativeInfinity else s
    }
    val q = vecs(0L)
    val pool = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(20)
    val simq = pool.toMap
    var selected = Vector.empty[Long]
    var remaining = simq.keySet
    while (selected.size < 5) {
      val pick = remaining.toSeq.map { id =>
        val sc =
          if (selected.isEmpty) simq(id)
          else 0.5 * simq(id) -
            0.5 * selected.map(s => cos(vecs(id), vecs(s))).max
        (sc, id)
      }.minBy { case (sc, id) => (-sc, id) }._2
      selected :+= pick
      remaining -= pick
    }
    assert(got == selected.zipWithIndex
      .map { case (id, i) => (i + 1L, id) }.toList)
    // the diversity penalty must have bitten on this data: the MMR set
    // differs from the plain cosine top-5 (else the query shows nothing)
    assert(got.map(_._2).toSet != pool.take(5).map(_._1).toSet,
      "pool top-5 and MMR top-5 coincide — data exercises no diversity")
  }

  test("q183 MMR degenerate pools: one candidate returns it at rank 1; " +
      "pool smaller than k returns the whole pool") {
    import spark.implicits._
    def frame(n: Int) = (0 to n).map(i =>
      (i.toLong, (1 to 64).map(d => (i * 64 + d) / 10000f)))
      .toDF("vec_id", "embedding")
    // exactly one candidate: the oracle's r1 emits it — so must we
    val one = VectorOps.mmrRerankOf(frame(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(one.toSeq == Seq((1L, 1L)), one.mkString(","))
    // three candidates, k=5: all three come back, ranks contiguous
    val three = VectorOps.mmrRerankOf(frame(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(three.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(three.map(_._2).toSet == Set(1L, 2L, 3L))
  }

  test("q184 SQ8: codes bounded, distances ascending, exact-NN recall") {
    import spark.implicits._
    val rows = VectorOps.sq8Ann(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 5)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
    assert(rows.forall(_._3 >= 0L))
    // 8-bit quantization is fine enough that the exact cosine top-5
    // largely survives (metric changes cosine → L2, so demand ≥ 3/5)
    val exact = VectorOps.knnTopK(spark, sf0001).collect()
      .map(_.getLong(1)).toSet
    assert(rows.map(_._2).toSet.intersect(exact).size >= 3,
      s"sq8=${rows.map(_._2).toSet} exact=$exact")
    // code bound check: 64 dims × max per-dim delta 255² bounds idist
    assert(rows.forall(_._3 <= 64L * 255 * 255))
  }

  /** 6 tight clusters × 8 members in 8 dims: within-cluster cosine
    * ≈ 0.99, cross ≈ 0.01 — the structured regime where NN-Descent
    * must converge to the exact graph in a few rounds. `offset` shifts
    * half the ids by 10⁷ to pin the no-contiguity contract of the
    * hash-bucket seed. */
  private def clusteredEmb(offset: Boolean): Seq[(Long, Array[Float])] =
    (0 until 48).map { i =>
      val c = i / 8; val j = i % 8
      val v = new Array[Float](8)
      v(c) = 1f
      v(6) = 0.1f + 0.02f * j
      v(7) = 0.01f * (c + 1) * (j + 1)
      val id = if (offset && i % 2 == 1) i + 10000000L else i.toLong
      (id, v)
    }

  private def bruteGraph(vecs: Seq[(Long, Array[Float])],
      k: Int): Set[(Long, Long)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += (a(i) * b(i)).toDouble
        na += (a(i) * a(i)).toDouble; nb += (b(i) * b(i)).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    vecs.flatMap { case (id, v) =>
      vecs.filter(_._1 != id)
        .map { case (oid, ov) => (oid, cos(v, ov)) }
        .sortBy { case (oid, s) => (-s, oid) }.take(k)
        .map { case (oid, _) => (id, oid) }
    }.toSet
  }

  test("NN-Descent on clustered data: every edge lands in-cluster and " +
      "recall >= 0.9, contiguous and offset ids alike") {
    import spark.implicits._
    // NN-Descent is a LOCAL search — the paper's contract is high
    // recall, not exactness (a pair (a,c) is only ever proposed while
    // some node lists both, and a cluster can reach a fixpoint where
    // a true neighbor's listers never co-occur with a) — so the law
    // here is the structural one: neighbors never cross clusters
    // (cross-cluster cosine ~0.01 vs ~0.99 inside), and recall against
    // brute force clears 0.9 on both id layouts. Deterministic: the
    // measured values are 1.0 (contiguous) and 0.93 (offset).
    def cluster(id: Long): Long = (id % 10000000L) / 8
    for (offset <- Seq(false, true)) {
      val vecs = clusteredEmb(offset)
      val df = vecs.toDF("vec_id", "embedding")
      val got = KnnGraphOps.nnDescentOf(df, k = 4, rounds = 4)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.forall { case (a, b) => cluster(a) == cluster(b) },
        s"offset=$offset: a cross-cluster edge survived")
      val truth = bruteGraph(vecs, 4)
      val recall = (got & truth).size.toDouble / truth.size
      assert(recall >= 0.9, s"offset=$offset: recall $recall < 0.9")
      assert(got.size == truth.size, "some node lost graph degree")
    }
  }

  test("NN-Descent edge quality is monotone over rounds (per-node " +
      "sim-sum never decreases)") {
    import spark.implicits._
    val df = clusteredEmb(offset = false).toDF("vec_id", "embedding")
    def sums(rounds: Int): Map[Long, Double] =
      KnnGraphOps.nnDescentOf(df, k = 4, rounds = rounds).collect()
        .groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getDouble(2)).sum }
    val byRound = (1 to 3).map(sums)
    for (Seq(prev, next) <- byRound.sliding(2);
         (id, s) <- next) {
      // the merge keeps every standing edge as a candidate, so the
      // per-node top-k sim multiset can only improve; 1e-9 absorbs
      // summation-order noise in the assertion arithmetic only
      assert(s >= prev.getOrElse(id, Double.NegativeInfinity) - 1e-9,
        s"node $id regressed between rounds")
    }
  }

  test("NN-Descent δ-termination (VERDICT r15 #2): stops before the " +
      "cap, reports converged, and never trails the fixed budget") {
    import spark.implicits._
    val vecs = clusteredEmb(offset = false)
    val df = vecs.toDF("vec_id", "embedding")
    val (g, rounds, converged) =
      KnnGraphOps.nnDescentToConvergence(df, k = 4)
    assert(converged,
      "48 clustered vectors must hit eps before DescentMaxRounds")
    assert(rounds >= 1 && rounds < KnnGraphOps.DescentMaxRounds)
    def pairs(frame: org.apache.spark.sql.DataFrame) =
      frame.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(g)
    val truth = bruteGraph(vecs, 4)
    val fixed = pairs(KnnGraphOps.nnDescentOf(df, k = 4))
    val recConv = (got & truth).size.toDouble / truth.size
    val recFixed = (fixed & truth).size.toDouble / truth.size
    // the merge keeps every standing edge as a candidate, so extra
    // rounds can only improve the per-node top-k — the converged
    // build must dominate the audit budget it replaces on rebuilds
    assert(recConv >= recFixed - 1e-9,
      s"converged $recConv trails fixed-budget $recFixed")
    assert(recConv >= 0.9, s"converged recall $recConv < 0.9")
    assert(got.size == truth.size, "some node lost graph degree")
  }

  test("fleet search q207: restricted to the held-out q205 query it " +
      "equals q205 verbatim; every held-out query is served; q208's " +
      "rollup reconciles") {
    import spark.implicits._
    val emb = graft.sources.Tables(spark, sf0001, "embeddings")
    val isDelta = substring(
      md5($"vec_id".cast("string")), 1, 2) < "1a"
    val deltaIds = emb.filter(isDelta).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val q205Id = deltaIds.min
    val fleet = KnnGraphOps.graphSearchFleet(spark, sf0001).collect()
    // the wrapper narrowed deltaRouteOf to one row — the fleet must
    // reproduce that row's answer bit-for-bit on the same index
    val fleetSingle = fleet.filter(_.getLong(0) == q205Id)
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val single = KnnGraphOps.graphSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fleetSingle == single,
      s"fleet row for $q205Id diverges from q205: $fleetSingle vs $single")
    // every held-out query served, top-5 cut respected
    val byQuery = fleet.groupBy(_.getLong(0))
    assert(byQuery.keySet == deltaIds,
      "fleet must serve exactly the held-out queries")
    assert(byQuery.values.forall(_.length <= 5))
    // q208 reconciles against its own inputs
    val audit = KnnGraphOps.graphFleetRecall(spark, sf0001).collect().head
    val n = audit.getLong(0)
    val hits = audit.getLong(1)
    val mean = audit.getDouble(2)
    assert(n == deltaIds.size.toLong)
    assert(hits >= 0L && hits <= 5L * n)
    assert(mean == new java.math.BigDecimal(hits)
      .divide(new java.math.BigDecimal(n), 4,
        java.math.RoundingMode.HALF_UP).doubleValue(),
      s"mean_hits $mean != $hits/$n")
    // q210 wide entry is MONOTONE: a third salt only ADDS candidates,
    // and a candidate that displaces an exact-top-5 member from the
    // route cut has higher sim, making it an exact-top-5 member
    // itself — so per query (and in total) hits never regress
    val wide = KnnGraphOps.graphFleetRecallWide(spark, sf0001)
      .collect().head
    assert(wide.getLong(0) == n)
    assert(wide.getLong(1) >= hits,
      s"wide entry regressed hits: ${wide.getLong(1)} < $hits")
  }

  test("serving-route shared artifacts equal the fresh Indexed " +
      "computation (r17 memo optimization changes no rows)") {
    // q207/q208/q209/q210's registry bodies now read session-memoized
    // route/exact artifacts; the *Indexed forms compute fresh. The
    // memo must be invisible in the data: same rows, both salt widths.
    val path = ServingIndexes.knnCorpusGraphIndex(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(KnnGraphOps.graphSearchFleet(spark, sf0001)) ==
      rows(KnnGraphOps.graphSearchFleetIndexed(spark, sf0001, path)),
      "memoized q207 route diverges from fresh computation")
    assert(rows(KnnGraphOps.graphFleetRecall(spark, sf0001)) ==
      rows(KnnGraphOps.graphFleetRecallIndexed(spark, sf0001, path)),
      "memoized q208 audit diverges from fresh computation")
    assert(rows(KnnGraphOps.graphFleetRecallWide(spark, sf0001)) ==
      rows(KnnGraphOps.graphFleetRecallIndexed(spark, sf0001, path,
        KnnGraphOps.WideSalts)),
      "memoized q210 audit diverges from fresh computation")
  }

  test("feature-hash / doc-vector shared artifacts equal the fresh " +
      "*Of computation (r18 memo optimization changes no rows)") {
    // q69's hashed-features table and its densified doc-vector lift
    // are session-memoized (q69/q70 pay, q72/q115/q126/q156/q170/q177
    // ride); the memo must be invisible in the data.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val docs = graft.sources.Tables(spark, sf0001, "documents")
    assert(rows(PipelineOps.featureHash(spark, sf0001)) ==
      rows(PipelineOps.featureHashOf(docs)),
      "memoized q69 feature hash diverges from fresh computation")
    assert(rows(VectorOps.docVectors(spark, sf0001)) ==
      rows(VectorOps.docVectorsOf(PipelineOps.featureHashOf(docs))),
      "memoized doc-vector table diverges from fresh computation")
  }

  test("mutual-kNN clusters: min-labels are closed, every vector " +
      "labeled once, mutual edges never cross clusters") {
    import spark.implicits._
    val rows = KnnGraphOps.mutualKnnClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.map(_._1).distinct.length)
    val label = rows.toMap
    // a min-label never exceeds its member, and is itself a member of
    // its own cluster (label closure)
    assert(rows.forall { case (v, c) => c <= v })
    assert(rows.forall { case (_, c) => label.get(c).contains(c) })
    // recompute the mutual edge set independently from the shared
    // graph artifact: endpoints must agree on the label
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"a_id").orderBy($"sim".desc, $"b_id".asc)
    val g = KnnGraphOps.knnGraphTable(spark, sf0001)
      .withColumn("rnk", org.apache.spark.sql.functions
        .row_number().over(w))
      .filter($"rnk" <= KnnGraphOps.MutualRank)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = g.filter { case (a, b) => a < b && g.contains((b, a)) }
    assert(mutual.nonEmpty, "degenerate fixture: no mutual edges")
    assert(mutual.forall { case (a, b) => label(a) == label(b) })
  }

  test("persisted kNN-graph index: disk == memoized graph, routed ANN " +
      "reads the index and matches a driver-side hop recompute") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("knn-graph-index").toString
    KnnGraphOps.knnGraphWriteIndex(spark, sf0001, path)
    def tkey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    // the independent index build lands on the identical graph —
    // same expressions over the same data, bit-equal sims included
    val disk = spark.read.parquet(s"$path/edges")
      .collect().map(tkey).toSet
    val live = KnnGraphOps.knnGraphTable(spark, sf0001)
      .collect().map(tkey).toSet
    assert(disk == live, "persisted graph must equal the memoized one")
    val routed = KnnGraphOps.graphRoutedAnn(spark, sf0001, path)
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains(path), s"plan must read the index at $path")
    val got = routed.collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side recompute of the whole route: 3 out-edge hops from
    // vec 0 over the on-disk edges, exact cosine top-5
    val adj = disk.toSeq.groupBy(_._1)
      .map { case (a, es) => a -> es.map(_._2).toSet }
    def expand(f: Set[Long]): Set[Long] =
      f.flatMap(adj.getOrElse(_, Set.empty[Long]))
    val h1 = adj.getOrElse(0L, Set.empty[Long])
    val cand = (h1 ++ expand(h1) ++ expand(expand(h1))) - 0L
    val vecs = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += (a(i) * b(i)).toDouble
        na += (a(i) * a(i)).toDouble; nb += (b(i) * b(i)).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = vecs(0L)
    val expect = cand.toSeq.map(id => (id, cos(q, vecs(id))))
      .sortBy { case (id, s) => (-s, id) }.take(5)
      .zipWithIndex.map { case ((id, _), i) => (i + 1L, id) }
    assert(got.toSeq == expect,
      s"routed=${got.toSeq} expected=$expect")
  }

  test("q203 hubness histogram: masses reconcile (nodes == corpus, " +
      "degree mass == edge count)") {
    import spark.implicits._
    val rows = KnnGraphOps.graphHubness(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nVecs = graft.sources.Tables(spark, sf0001, "embeddings").count()
    val nEdges = KnnGraphOps.knnGraphTable(spark, sf0001).count()
    assert(rows.map(_._2).sum == nVecs, "every vector in one bucket")
    assert(rows.map { case (d, n) => d * n }.sum == nEdges,
      "degree mass must equal the edge count")
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("q202 delta insert == driver-side route recompute; neighbors " +
      "are corpus-only") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def isDelta(id: Long): Boolean = md5hex(id.toString).take(2) < "1a"
    val vecs = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val corpusIds = vecs.keySet.filter(!isDelta(_))
    val deltaIds = vecs.keySet.filter(isDelta)
    assert(deltaIds.nonEmpty && corpusIds.nonEmpty)
    val got = KnnGraphOps.graphDeltaInsert(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (v, _, nb) =>
      deltaIds(v) && corpusIds(nb) })
    // driver-side recompute: same buckets, same 3 frontier levels
    // over the corpus graph, exact cosine top-8
    val nBuckets = math.max(1L, corpusIds.size / 16L)
    def bks(id: Long): Set[(String, Long)] = Set("a", "b").map { s =>
      s -> java.lang.Long.parseLong(
        md5hex(s"knnseed$s:$id").take(15), 16) % nBuckets
    }
    val corpusBk = corpusIds.toSeq
      .flatMap(id => bks(id).map(b => b -> id))
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSet }
    val idxPath = ServingIndexes.knnCorpusGraphIndex(spark, sf0001)
    val adj = spark.read.parquet(s"$idxPath/edges")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).map { case (a, es) => a -> es.map(_._2).toSet }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += (a(i) * b(i)).toDouble
        na += (a(i) * a(i)).toDouble; nb += (b(i) * b(i)).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = deltaIds.toSeq.flatMap { d =>
      val entry = bks(d)
        .flatMap(corpusBk.getOrElse(_, Set.empty[Long]))
      def expand(f: Set[Long]): Set[Long] =
        f.flatMap(adj.getOrElse(_, Set.empty[Long]))
      val cand = entry ++ expand(entry) ++ expand(expand(entry))
      cand.toSeq.map(c => (c, cos(vecs(d), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(8)
        .zipWithIndex.map { case ((c, _), i) => (d, i + 1L, c) }
    }.toSet
    assert(got.toSet == expect,
      s"diff=${(got.toSet -- expect).take(5)} | ${(expect -- got.toSet).take(5)}")
  }

  test("q205 out-of-corpus search == driver-side route recompute; " +
      "results are corpus-only and exclude the query") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def isDelta(id: Long): Boolean = md5hex(id.toString).take(2) < "1a"
    val vecs = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val corpusIds = vecs.keySet.filter(!isDelta(_))
    val qId = vecs.keySet.filter(isDelta).min
    val got = KnnGraphOps.graphSearchIndexed(spark, sf0001,
        ServingIndexes.knnCorpusGraphIndex(spark, sf0001))
      .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
    assert(got.nonEmpty && got.forall(corpusIds) && !got.contains(qId))
    // driver-side recompute: the query's two buckets, RouteHops
    // expansions over the persisted corpus graph, exact cosine top-5
    val nBuckets = math.max(1L, corpusIds.size / 16L)
    def bks(id: Long): Set[(String, Long)] = Set("a", "b").map { s =>
      s -> java.lang.Long.parseLong(
        md5hex(s"knnseed$s:$id").take(15), 16) % nBuckets
    }
    val corpusBk = corpusIds.toSeq
      .flatMap(id => bks(id).map(b => b -> id))
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSet }
    val idxPath = ServingIndexes.knnCorpusGraphIndex(spark, sf0001)
    val adj = spark.read.parquet(s"$idxPath/edges")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).map { case (a, es) => a -> es.map(_._2).toSet }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += (a(i) * b(i)).toDouble
        na += (a(i) * a(i)).toDouble; nb += (b(i) * b(i)).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def expand(f: Set[Long]): Set[Long] =
      f.flatMap(adj.getOrElse(_, Set.empty[Long]))
    val entry = bks(qId).flatMap(corpusBk.getOrElse(_, Set.empty[Long]))
    val cand = entry ++ expand(entry) ++ expand(expand(entry)) ++
      expand(expand(expand(entry)))
    val expect = cand.toSeq.map(c => (c, cos(vecs(qId), vecs(c))))
      .sortBy { case (c, s) => (-s, c) }.take(5).map(_._1)
    assert(got == expect, s"routed=$got expected=$expect")
  }

  /** Random frames with heavy sort-key ties: g in [0, 5), s in [0, 4),
    * id unique — the tie-break alone decides the survivors at k. */
  private def tiedFrame(seed: Int) = {
    import spark.implicits._
    val df = spark.range(0L, 600L, 1L, 4).select(
      pmod(hash($"id", lit(seed)), lit(5)).as("g"),
      pmod(hash($"id", lit(seed + 1)), lit(4)).as("s"), $"id")
    (df, df.as[(Int, Int, Long)].collect().toSeq)
  }

  test("topKPerGroup == per-group sort-and-take under heavy key ties; " +
      "plans WindowGroupLimit") {
    import spark.implicits._
    for ((seed, k) <- Seq((1, 1), (2, 3), (3, 7))) {
      val (df, rows) = tiedFrame(seed)
      val got = graft.operators.Operators.topKPerGroup(df, Seq($"g"),
        Seq($"s".desc), $"id".asc, k)
      val want = rows.groupBy(_._1).values.flatMap(
        _.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
          .map { case ((g, s, id), i) => (g, s, id, i + 1L) }).toSet
      assert(got.select($"g", $"s", $"id", $"rank")
        .as[(Int, Int, Long, Long)].collect().toSet == want, s"seed $seed")
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), plan)
    }
  }

  test("topK == global sort-and-take under heavy key ties; plans " +
      "TakeOrderedAndProject with no single-partition exchange") {
    import spark.implicits._
    for ((seed, k) <- Seq((4, 1), (5, 5), (6, 40))) {
      val (df, rows) = tiedFrame(seed)
      val got = graft.operators.Operators.topK(df,
        Seq($"s".desc, $"g".asc), $"id".asc, k)
      val want = rows.sortBy(r => (-r._2, r._1, r._3)).take(k).zipWithIndex
        .map { case ((g, s, id), i) => (i + 1L, g, s, id) }
      assert(got.select($"rank", $"g", $"s", $"id")
        .as[(Long, Int, Int, Long)].collect().sortBy(_._1).toSeq == want,
        s"seed $seed")
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(!plan.contains("Exchange SinglePartition"), plan)
    }
  }
}
