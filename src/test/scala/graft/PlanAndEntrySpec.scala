package graft

import graft.queries.{Registry, TpchLike, EventOps}

/** Plan-shape assertions (the 100 TB concerns: pushdown reaches the
  * scan, small dims broadcast, hot paths stay in whole-stage codegen)
  * plus the driver-contract smoke checks. */
class PlanAndEntrySpec extends SparkSuite {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter+projection are pushed to the parquet scan") {
    val p = planOf(TpchLike.filterProject(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThan(l_quantity,25.0)"), p)
    // pruned read schema: only the 5 needed columns, not all 11
    assert(!p.contains("l_returnflag"), p)
  }

  test("small dimension joins broadcast, no shuffle of the big side twice") {
    val p = planOf(TpchLike.revenuePerNation(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("aggregation pipeline stays inside whole-stage codegen") {
    val df = TpchLike.pricingSummary(spark, sf0001)
    df.collect() // AQE finalizes (and codegen appears) only on execution
    val p = planOf(df)
    // whole-stage codegen spans print as "*(n) " prefixes in simpleString
    assert(p.contains("*(1) HashAggregate") || p.contains("*(2) HashAggregate"), p)
  }

  test("as-of windowed variant plans a single shuffle") {
    val p = planOf(EventOps.asofWindowed(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shuffle, plan:\n$p")
  }

  test("top-k twins plan TakeOrderedAndProject, not a global-window shuffle") {
    // q30/q33 regression (round-1 verdict): a partition-less Window.orderBy
    // shuffles the whole candidate set to ONE partition. The orderBy+limit
    // form plans TakeOrderedAndProject (per-partition partial top-k) and the
    // post-limit rank window rides its SinglePartition output, so no
    // single-partition Exchange may appear anywhere in the plan.
    for (df <- Seq(graft.queries.VectorOps.knnTopK(spark, sf0001),
        graft.queries.VectorOps.ivfKnn(spark, sf0001),
        graft.queries.TextOps.bm25TopK(spark, sf0001))) {
      val p = planOf(df)
      assert(p.contains("TakeOrderedAndProject"), p)
      assert(!p.contains("Exchange SinglePartition"), p)
    }
    // q89 additionally promises the query-term filter reaches BOTH
    // token explodes (postings and df branches) — only query-term
    // postings ever shuffle
    // regex occurrence count, not String.split: split drops a trailing
    // match (Java strips trailing empty strings) and would undercount
    // when the IN list is the plan string's tail (ADVICE r5)
    val p89 = planOf(graft.queries.TextOps.bm25TopK(spark, sf0001))
    val inListHits = "IN \\(spark,window,merge\\)".r.findAllIn(p89).size
    assert(inListHits >= 2,
      s"query-term filter reached $inListHits explode branches (<2):\n$p89")
  }

  test("q44 filters refutable pairs BELOW the pair-dedup aggregate") {
    // hamming is a pure function of the pair, so the hamming <= 3 test
    // must sit under the distinct's HashAggregate/Exchange — refutable
    // candidates (most, on a correlated-vocab corpus) die before the
    // shuffle instead of riding it. Catalyst already guarantees this
    // for either source ordering (the predicate pushes below the
    // aggregate into the join condition); this test exists so no
    // rewrite or optimizer change can silently lose the property.
    val p = planOf(graft.queries.DedupOps.simhashPairs(spark, sf0001))
    val filterAt = p.indexOf("Filter")
    val aggAt = p.indexOf("HashAggregate")
    assert(filterAt >= 0 && aggAt >= 0, p)
    // executedPlan prints top-down: the aggregate (distinct) must appear
    // BEFORE (above) the hamming filter
    val hammingFilterAt = p.indexOf("<= 3")
    assert(hammingFilterAt > aggAt,
      s"hamming filter not below the distinct aggregate:\n$p")
  }

  test("driver contract: entry returns rows; oracle keys match queries") {
    assert(SparkEntry.entry(spark).count() > 0)
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert(ok.subsetOf(qk), s"oracle-only keys: ${ok.diff(qk)}")
    assert(Registry.all.map(_.name).distinct.size == Registry.all.size)
  }

  test("LSH band join past the broadcast threshold: SMJ + ReusedExchange, same pairs") {
    // PLANS.md's scale claim for q42, pinned: when band keys outgrow the
    // broadcast threshold the planner switches to sort-merge, whose
    // identical per-side exchanges deduplicate via ReuseExchange — the
    // expensive minhash pipeline runs ONCE at exactly the scale where
    // that matters. Forcing threshold -1 simulates the large-corpus
    // regime on test data; results must not change with the strategy.
    val sf001 = "/root/testdata/sf0.01"
    val expected = graft.queries.DedupOps.minhashLsh(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.queries.DedupOps.minhashLsh(spark, sf001)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
      assert(expected.nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("ReusedExchange"),
        s"band self-join sides must share one exchange:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("registry-wide plan sweep: no cartesian product, no single-partition exchange") {
    // mechanizes the PLANS.md audit claim so it can't silently rot: a
    // CartesianProduct is the all-pairs scale-killer, and an
    // Exchange SinglePartition funnels the whole dataset through one
    // task. BroadcastNestedLoopJoins are separately audited in PLANS.md
    // (every one is an intentional tiny-side broadcast).
    //
    // Exemption (Stress10xSpec's scalarRollup, same argument): a
    // KEYLESS aggregate producing a one-row report finalizes on a
    // single partition BY CONSTRUCTION — after map-side partial
    // aggregation the exchange moves one row per upstream partition,
    // not the data. Only declared one-row-report queries opt in; the
    // ban stays the default for everything else.
    val scalarRollups = Set("q186_scorer_agreement", "q194_retrieval_eval",
      "q197_reindex_decision", "q208_graph_fleet_recall",
      "q210_graph_fleet_wide_recall")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = fn(spark, sf0001).queryExecution.executedPlan.toString
        val banned =
          if (scalarRollups(name)) Seq("CartesianProduct")
          else Seq("CartesianProduct", "Exchange SinglePartition")
        banned.filter(p.contains).map(bad => s"$name: $bad")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every declared query runs and returns rows on sf0.001") {
    // codegen fallback OFF: a whole-stage-codegen compilation failure
    // (e.g. a generated class overflowing Janino, as the first unrolled
    // PQ assignment did) normally degrades SILENTLY to interpreted
    // eval — an ERROR log line nobody reads and a hot path 10x slower
    // at scale. With fallback disabled the failure throws, so this
    // run-everything test doubles as the compiles-cleanly guard.
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    // drop every memoized shared artifact: earlier tests materialize
    // them under default fallback, and a cached artifact would let its
    // build pipeline — the heaviest codegen in the repo, and the exact
    // code whose silent fallback motivated this guard — skip
    // compilation here entirely
    import graft.queries.{Artifact, Artifacts, Registry}
    Artifacts.invalidateAll()
    val builds0 = Artifacts.all.map(a => a -> a.builds).toMap
    def reads = Artifacts.all.map(a => a -> a.reads).toMap
    try {
      val empties = Seq.newBuilder[String]
      val undeclared = Seq.newBuilder[String]
      for (q <- Registry.all) {
        val r0 = reads
        if (q.run(spark, sf0001).count() == 0) empties += q.name
        // an artifact a query reads (hit or build) must be declared,
        // or Bench would not check that its payer runs first
        undeclared ++= reads.collect {
          case (a, r) if r > r0.getOrElse(a, 0L) &&
              !q.pays.contains(a) && !q.rides.contains(a) =>
            s"${q.name} reads ${a.name}"
        }
      }
      // near-dup pair sets (and reports derived from them) may legitimately
      // be empty at tiny SF; everything else must produce rows
      val mayBeEmpty = Set("q38", "q41", "q42", "q44", "q54")
      assert(empties.result().forall(n => mayBeEmpty.exists(n.startsWith)),
        s"unexpected empty: ${empties.result()}")
      assert(undeclared.result().isEmpty, undeclared.result().mkString("\n"))
      // every declared artifact was built above, and nothing undeclared was
      val declared = Registry.all.flatMap(q => q.pays ++ q.rides)
        .collect { case a: Artifact[_] => a }.toSet
      val built = Artifacts.all
        .filter(a => a.builds > builds0.getOrElse(a, 0L)).toSet
      assert((declared -- built).isEmpty,
        s"declared but never built: ${(declared -- built).map(_.name)}")
      assert((built -- declared).isEmpty,
        s"built but declared by no query: ${(built -- declared).map(_.name)}")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }
}
