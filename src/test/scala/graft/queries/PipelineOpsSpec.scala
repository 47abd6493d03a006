package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Unit coverage for the corpus-prep operators, in particular the q47
  * cleaning branches the synthetic corpus never triggers (it contains
  * no '@' or 'http' at all — the oracle hash only proves the identity
  * path there). */
class PipelineOpsSpec extends SparkSuite {

  test("cleanExpr strips emails, URLs, and collapses whitespace") {
    import spark.implicits._
    val in = Seq(
      "Contact Bob.Smith+spam@Example-Host.co.uk  for   details",
      "see https://example.com/a?b=c&d=e and http://x.io/path, ok",
      "  plain   text  stays  ",
      "MIXED Case And\tTabs",
      "no-at-sign user.name@ incomplete @domain.com").toDF("text")
    val got = in.select(PipelineOps.cleanExpr($"text").as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == "contact for details")
    assert(got(1) == "see and ok")           // trailing ',' glued to URL: \S+
    assert(got(2) == "plain text stays")
    assert(got(3) == "mixed case and tabs")
    // '@' without a valid local/domain shape is NOT an email — left alone
    assert(got(4) == "no-at-sign user.name@ incomplete @domain.com")
  }

  test("hash sample rate lands near the 26/256 design point") {
    val n = graft.sources.Tables(spark, sf0001, "documents").count()
    val s = PipelineOps.hashSample(spark, sf0001).count()
    assert(s > 0 && s < n)
    val rate = s.toDouble / n
    assert(rate > 0.04 && rate < 0.18, s"rate=$rate")
  }

  test("HLL sketch vocab (the 100 TB path) tracks exact vocab within 5%") {
    import spark.implicits._
    val exact = TextOps.sourceVocab(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.sources.Tables(spark, sf0001, "documents")
      .select($"source", explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"source")
      .agg(approx_count_distinct($"token").as("vocab"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((s, v) <- exact) {
      val a = approx(s).toDouble
      assert(math.abs(a - v) / v <= 0.05, s"source $s: exact=$v approx=$a")
    }
  }

  test("mixture sampler matches a driver-side recomputation and the mix") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val cnt = docs.groupBy(_._2).map { case (l, d) => l -> d.length.toLong }
    val wBp = Map("en" -> 5000L, "zh" -> 1250L, "es" -> 1250L,
      "de" -> 1250L, "fr" -> 1250L)
    def u16(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16)
    }
    val budget = 200L
    val expected = docs.filter { case (id, l) =>
      wBp.get(l).exists(w => u16(id) * 10000L * cnt(l) < 65536L * w * budget)
    }.map(_._1).toSet
    val got = PipelineOps.mixtureSample(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).toSet == expected)
    // the realized mix tracks the target: en twice the budget share of
    // the others combined halves — coarse bounds, data-independent-ish
    val byLang = got.groupBy(_._2).map { case (l, d) => l -> d.length }
    val want = budget.toDouble
    assert(math.abs(byLang("en") - want * 0.5) <= want * 0.15,
      s"en share off target: $byLang")
    wBp.keys.filterNot(_ == "en").foreach { l =>
      assert(math.abs(byLang(l) - want * 0.125) <= want * 0.08,
        s"$l share off target: $byLang")
    }
  }

  test("BPE merge mining matches an independent driver-side recompute") {
    // independent path: java.util.regex pre-tokenization + substring
    // pairing in plain Scala (corpus is BMP-only, so code-unit
    // substring == code-point substring here)
    val pat = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+")
    val counts = scala.collection.mutable.Map.empty[String, Long]
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").collect().map(_.getString(0)).foreach { text =>
        val m = pat.matcher(text)
        while (m.find()) {
          val t = m.group()
          var i = 1
          while (i < t.length) {
            val p = t.substring(i - 1, i + 1)
            counts(p) = counts.getOrElse(p, 0L) + 1
            i += 1
          }
        }
      }
    val expect = counts.toSeq
      .sortBy { case (p, c) => (-c, p) }.take(20)
      .zipWithIndex.map { case ((p, c), i) => (i + 1L, p, c) }
    val got = PipelineOps.bpeMerges(spark, sf0001).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expect)
    // the corpus is Zipfian-ish English+friends: the top merge should
    // be a real frequent bigram, not an artifact
    assert(expect.head._3 > 100)
  }

  test("BPE round 2 applies merge #1 greedily and matches a recompute") {
    val pat = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+")
    val pretokens = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").collect().map(_.getString(0)).foreach { text =>
        val m = pat.matcher(text)
        while (m.find()) pretokens += m.group()
      }
    // round 1 winner (cnt desc, pair asc)
    val c1 = scala.collection.mutable.Map.empty[String, Long]
    for (t <- pretokens; i <- 1 until t.length) {
      val p = t.substring(i - 1, i + 1)
      c1(p) = c1.getOrElse(p, 0L) + 1
    }
    val mp = c1.toSeq.minBy { case (p, c) => (-c, p) }._1
    // greedy left-to-right apply == String.replace with a sentinel
    val c2 = scala.collection.mutable.Map.empty[(String, String), Long]
    for (t <- pretokens) {
      val seg = t.replace(mp, "")
      def sym(c: Char): String = if (c == '') mp else c.toString
      for (i <- 1 until seg.length) {
        val k = (sym(seg(i - 1)), sym(seg(i)))
        c2(k) = c2.getOrElse(k, 0L) + 1
      }
    }
    val expect = c2.toSeq
      .sortBy { case ((l, r), c) => (-c, l, r) }.take(20)
      .zipWithIndex.map { case (((l, r), c), i) => (i + 1L, l, r, c) }
    val got = PipelineOps.bpeMergesRound2(spark, sf0001)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == expect)
    // the applied merge must actually absorb occurrences: the round-1
    // winner pair cannot survive as a (char, char) pair in round 2
    assert(!got.exists(g => g._2 == mp.substring(0, 1) &&
      g._3 == mp.substring(1, 2)))
  }

  test("q101 merge table matches a 5-round driver-side reference BPE loop") {
    val pat = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+")
    var segs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").collect().map(_.getString(0)).toVector
      .flatMap { text =>
        val m = pat.matcher(text)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (m.find()) out += m.group()
        out
      }
    // classic BPE: count, pick (cnt desc, pair asc), greedy replace
    // with sentinel, repeat — the reference the distributed loop must
    // reproduce exactly, including cross-round merge composition
    val expand = scala.collection.mutable.Map.empty[Char, String]
    def dec(c: Char): String = expand.getOrElse(c, c.toString)
    val expect = (1 to 5).map { i =>
      val counts = scala.collection.mutable.Map.empty[String, Long]
      for (t <- segs if t.length >= 2; j <- 1 until t.length) {
        val p = t.substring(j - 1, j + 1)
        counts(p) = counts.getOrElse(p, 0L) + 1
      }
      val (pair, cnt) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      val (l, r) = (dec(pair(0)), dec(pair(1)))
      expand(i.toChar) = l + r
      segs = segs.map(_.replace(pair, i.toChar.toString))
      (i.toLong, l, r, cnt)
    }.toSeq
    val got = PipelineOps.bpeMergeTable(spark, sf0001)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == expect)
    // five distinct merges, every count positive and non-increasing is
    // NOT required (later rounds can beat earlier residual counts), but
    // each selection must have been a real pair
    assert(expect.map(e => (e._2, e._3)).distinct.size == 5)
    assert(expect.forall(_._4 > 0))
  }

  test("q102/q103 packing: bins respect capacity and beat greedy padding") {
    import spark.implicits._
    val pl = PipelineOps.packPlacements(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.get(6)).map(_.asInstanceOf[Long])))
    assert(pl.nonEmpty)
    // tail-less docs have no placement; tailed docs always do
    for ((id, _, n, full, tail, bin, slot) <- pl) {
      assert(full == n / 16 && tail == n % 16, s"doc $id arithmetic")
      assert((tail == 0) == bin.isEmpty && (tail == 0) == slot.isEmpty,
        s"doc $id placement presence")
    }
    // capacity: a size-r bin holds at most floor(16/r) tails, slots are
    // the contiguous 0..count-1 — so no bin ever exceeds 16 tokens
    val byBin = pl.filter(_._5 > 0)
      .groupBy(p => (p._2, p._5, p._6.get))
    for (((lang, tail, bin), members) <- byBin) {
      assert(members.size <= 16 / tail, s"overfull bin ($lang,$tail,$bin)")
      assert(members.map(_._7.get).sorted.toSeq ==
        (0L until members.size.toLong), s"slots of ($lang,$tail,$bin)")
      assert(members.size * tail <= 16)
    }
    // budget reconciliation: packed sequences == full seqs + distinct
    // bins, and packing never loses tokens or worsens padding
    val budget = PipelineOps.packingBudget(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val byLang = pl.groupBy(_._2)
    for ((lang, (nd, nt, sg, pg, sp, pp)) <- budget) {
      val rows = byLang(lang)
      assert(nd == rows.length && nt == rows.map(_._3).sum)
      assert(sg == rows.map(p => (p._3 + 15) / 16).sum)
      assert(sp == rows.map(_._4).sum +
        rows.filter(_._5 > 0).map(p => (p._5, p._6.get)).distinct.size)
      assert(pg == sg * 16 - nt && pp == sp * 16 - nt)
      assert(pp <= pg, s"$lang: packing worsened padding")
    }
    // the packer must achieve a real global reduction on this corpus
    val (totPg, totPp) = (budget.values.map(_._4).sum,
      budget.values.map(_._6).sum)
    assert(totPp < totPg, s"no waste reduction: greedy=$totPg packed=$totPp")
  }

  test("q104 what-if: admitted-now equals q93 lineage, deltas reconcile") {
    import spark.implicits._
    val whatif = PipelineOps.whatifAdmission(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // the shipped-policy column is q93's admitted bit by construction
    val lineage = PipelineOps.docLineage(spark, sf0001)
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"admitted").as("adm"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(whatif.keySet == lineage.keySet)
    for ((src, (nDocs, admNow, admWhatif, gained, lost)) <- whatif) {
      assert((nDocs, admNow) == lineage(src), s"source $src vs q93")
      // delta algebra: what-if = now + gained - lost, all non-negative
      assert(admWhatif == admNow + gained - lost, s"source $src deltas")
      assert(gained >= 0 && lost >= 0 && admWhatif <= nDocs)
    }
    // the alternative policy must actually move the needle somewhere —
    // a what-if report that can never differ from production is dead UI
    assert(whatif.values.exists(v => v._4 > 0 || v._5 > 0),
      "what-if policy changed nothing at sf0.001 — thresholds are inert")
  }

  test("hashed-feature scorer matches an independent driver-side recompute") {
    def md5Long8(seed: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val wt = (0 until 64).map(d => d.toLong -> (md5Long8(s"w:$d") % 2001 - 1000))
      .toMap
    val expect = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val score = r.getString(1).split(" ", -1)
          .map(t => wt(md5Long8(t) % 64)).sum
        (r.getLong(0), score, if (score > 0) 1L else 0L)
      }.toSet
    val got = PipelineOps.hashedScore(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
    // both decision classes occur — the threshold actually separates
    assert(got.exists(_._3 == 1L) && got.exists(_._3 == 0L))
  }

  test("token pack conserves token counts and caps segments at 16") {
    import spark.implicits._
    val packed = PipelineOps.tokenPack(spark, sf0001)
    val bySeg = packed.groupBy($"doc_id")
      .agg(sum($"seg_tokens").as("total"), max($"seg_tokens").as("mx"),
        count(lit(1)).as("nseg"), max($"seg_idx").as("maxidx"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val truth = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySeg.keySet == truth.keySet)
    for ((d, (total, mx, nseg, maxidx)) <- bySeg) {
      assert(total == truth(d), s"doc $d loses tokens")
      assert(mx <= 16)
      assert(nseg == (truth(d) + 15) / 16)   // ceil(n/16) segments
      assert(maxidx == nseg - 1)             // contiguous 0..nseg-1
    }
  }

  test("shard assignment is a reproducible permutation with contiguous positions") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf0001, "documents")
    val a = PipelineOps.shardAssign(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_key"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos")))
    // one row per input doc
    assert(a.map(_._1).toSet == docs.select($"doc_id").collect()
      .map(_.getLong(0)).toSet)
    // shard derived from the key; positions contiguous 1..n within shard
    for ((_, key, shard, _) <- a) assert(shard == key % 16)
    for ((_, rows) <- a.groupBy(_._3)) {
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length).map(_.toLong))
      // positions follow (shuffle_key, doc_id) order exactly
      assert(rows.sortBy(_._4).map(r => (r._2, r._1)).toSeq ==
        rows.map(r => (r._2, r._1)).sorted.toSeq)
    }
    // deterministic across invocations
    val b = PipelineOps.shardAssign(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"))).toSet
    assert(b == a.map(r => (r._1, r._4)).toSet)
  }

  test("benchmark decon flags exactly the train docs sharing a bench 8-gram") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val isBench = docs.map { case (id, _) =>
      id -> md5hex(s"bench:$id").startsWith("0") }.toMap
    def grams(t: String): Set[String] = {
      val tok = t.split(" ", -1)
      if (tok.length < 8) Set.empty
      else tok.sliding(8).map(_.mkString(" ")).toSet
    }
    val benchGrams = docs.filter(d => isBench(d._1))
      .flatMap(d => grams(d._2)).toSet
    val expect = docs.filterNot(d => isBench(d._1))
      .map { case (id, t) => id -> grams(t).intersect(benchGrams) }
      .filter(_._2.nonEmpty)
      .map { case (id, g) => id -> (g.size.toLong, g.min) }.toMap
    val got = PipelineOps.benchmarkDecon(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared_grams"), r.getAs[String]("sample_gram")))
      .toMap
    assert(got == expect)
  }

  test("unigram score matches a driver-side frequency recompute") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val freq = docs.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    val got = TextOps.unigramScore(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_freq"),
          r.getAs[Long]("mean_freq_scaled"))).toMap
    assert(got.keySet == docs.map(_._1).toSet)
    for ((id, t) <- docs) {
      val tok = t.split(" ", -1).filter(_.nonEmpty)
      val sf = tok.map(freq).sum
      val expect = (tok.length.toLong, sf,
        if (tok.isEmpty) 0L else sf * 1000000L / tok.length)
      assert(got(id) == expect, s"doc $id")
    }
  }

  test("piiRedact handles each PII type, mixtures, and non-matches") {
    import spark.implicits._
    val in = Seq(
      "mail alice.b+x@host.example.org now",
      "call +1-555-0137 or +358-555-9999",
      "from 192.168.0.1 and 10.0.255.3",
      "bob@x.io at 127.0.0.1 dials +44-201-4455",
      "no pii here: version 1.2.3, a@b (bad), +12-34-56",
      "mixed Case: Bob.Smith@Example.COM stays redacted").toDF("text")
    val got = in.select(PipelineOps.piiRedact($"text").as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == "mail <EMAIL> now")
    assert(got(1) == "call <PHONE> or <PHONE>")
    assert(got(2) == "from <IP> and <IP>")
    assert(got(3) == "<EMAIL> at <IP> dials <PHONE>")
    // 'version 1.2.3' has only 3 dotted groups, 'a@b' has no TLD, and
    // '+12-34-56' has the wrong digit-group widths — all left alone
    assert(got(4) == "no pii here: version 1.2.3, a@b (bad), +12-34-56")
    // redaction cannot lowercase-then-match (it must preserve case),
    // so the email pattern itself is (?i) — surrounding case survives
    assert(got(5) == "mixed Case: <EMAIL> stays redacted")
  }

  test("q86 profiles exercise 0/1/2-match branches and redact fully") {
    val rows = PipelineOps.piiScrub(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byMod = rows.map { r =>
      val id = r.getAs[Long]("doc_id")
      (id, r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
        r.getAs[Long]("n_ips"), r.getAs[String]("redacted"))
    }
    for ((id, ne, np, ni, red) <- byMod) {
      assert(ne == (if (id % 5 == 0) 2L else 1L), s"emails doc $id")
      assert(np == (if (id % 3 != 0) 1L else 0L), s"phones doc $id")
      assert(ni == (if (id % 2 == 0) 1L else 0L), s"ips doc $id")
      // nothing PII-shaped survives redaction
      assert(!red.contains("@"), s"doc $id: $red")
      assert(!red.matches(".*[0-9]{1,3}\\.[0-9].*"), s"doc $id: $red")
      assert(ne == "<EMAIL>".r.findAllIn(red).size, s"doc $id")
      assert(np == "<PHONE>".r.findAllIn(red).size, s"doc $id")
      assert(ni == "<IP>".r.findAllIn(red).size, s"doc $id")
    }
  }

  test("q87 inverted index matches a driver-side posting recompute") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val postings = docs.flatMap { case (id, t) =>
      t.split(" ", -1).zipWithIndex.filter(_._1.nonEmpty)
        .map { case (term, pos) => (term, id, pos) } }
      .groupBy(p => (p._1, p._2))
      .map { case ((term, id), occ) =>
        (term, id) -> (occ.length.toLong, occ.map(_._3).min.toLong) }
    val df = postings.keys.groupBy(_._1).map { case (t, ks) =>
      t -> ks.size.toLong }
    val got = TextOps.invertedIndex(spark, sf0001).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("df"), r.getAs[Long]("tf"),
          r.getAs[Long]("first_pos"))).toMap
    assert(got.keySet == postings.keySet)
    for ((k, (tf, fp)) <- postings)
      assert(got(k) == (df(k._1), tf, fp), s"posting $k")
  }

  test("q90 token budget agrees with q48 packing over survivors") {
    import spark.implicits._
    val surv = DedupOps.dedupCorpus(spark, sf0001).select($"doc_id")
    val segs = PipelineOps.tokenPack(spark, sf0001).join(surv, "doc_id")
    val expSeqs = segs.count()
    val expTok = segs.agg(sum($"seg_tokens")).collect()(0).getLong(0)
    val got = PipelineOps.tokenBudget(spark, sf0001).collect()
    assert(got.map(_.getAs[Long]("n_sequences")).sum == expSeqs)
    assert(got.map(_.getAs[Long]("n_tokens")).sum == expTok)
    for (r <- got)
      assert(r.getAs[Long]("n_padding") ==
        r.getAs[Long]("n_sequences") * 16 - r.getAs[Long]("n_tokens"))
  }

  test("q89 retrieval matches a driver-side tf-idf recompute") {
    import spark.implicits._
    val q = Seq("spark", "window", "merge")
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ", -1).filter(q.contains(_)).map(term => (term, id)) }
      .groupBy(identity).map { case (k, o) => k -> o.length.toLong }
    val df = tf.keys.groupBy(_._1).map { case (t, ks) => t -> ks.size.toLong }
    val scores = tf.keys.groupBy(_._2).map { case (id, ks) =>
      (id, ks.map(k => tf(k) * (1000000L / df(k._1))).sum, ks.size.toLong) }
    val expect = scores.toSeq
      .sortBy { case (id, s, _) => (-s, id) }.take(20)
    val got = TextOps.bm25TopK(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"),
        r.getAs[Long]("n_hit_terms"))).toSeq
    assert(got == expect)
  }

  test("q91 packed stream is contiguous per shard with exact offsets") {
    val rows = PipelineOps.packedStream(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("start_off"),
        r.getAs[Long]("start_seq"), r.getAs[Long]("end_seq")))
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_._1)) {
      val ordered = g.sortBy(_._2)
      var off = 0L
      for ((_, _, n, so, ss, es) <- ordered) {
        assert(so == off, s"offset gap at pos with start_off=$so")
        assert(ss == so / 16 && es == (so + n - 1) / 16)
        off += n
      }
    }
    // padding only at shard ends: total slots - tokens < 16 per shard
    for ((_, g) <- rows.groupBy(_._1)) {
      val tok = g.map(_._3).sum
      val seqs = g.map(_._6).max + 1
      assert(seqs * 16 - tok < 16)
    }
  }

  test("q92 split never separates a dup cluster and holds out ~10%") {
    val rows = PipelineOps.leakSafeSplit(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[String]("split")))
    val nDocs = graft.sources.Tables(spark, sf0001, "documents").count()
    assert(rows.length.toLong == nDocs)
    // whole-cluster assignment: one split value per cluster
    for ((cid, g) <- rows.groupBy(_._2))
      assert(g.map(_._3).distinct.length == 1, s"cluster $cid straddles")
    val validFrac = rows.count(_._3 == "valid").toDouble / rows.length
    assert(validFrac > 0.03 && validFrac < 0.25, s"validFrac=$validFrac")
  }

  test("q93 lineage covers every doc and its sums reconcile with q88") {
    val rows = PipelineOps.docLineage(spark, sf0001).collect()
    val nDocs = graft.sources.Tables(spark, sf0001, "documents").count()
    assert(rows.length.toLong == nDocs)
    for (r <- rows) {
      val (s, q, f, a) = (r.getAs[Long]("is_survivor"),
        r.getAs[Long]("passes_quality"), r.getAs[Long]("decon_flagged"),
        r.getAs[Long]("admitted"))
      assert(Seq(s, q, f, a).forall(b => b == 0L || b == 1L))
      assert(a == s * q * (1 - f))
    }
    val bySource = rows.groupBy(_.getAs[String]("source"))
      .map { case (src, g) => src -> g.map(_.getAs[Long]("admitted")).sum }
    val funnel = PipelineOps.pipelineYield(spark, sf0001).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_final")).toMap
    for ((src, n) <- funnel)
      assert(bySource.getOrElse(src, 0L) == n, s"source $src")
  }

  test("q100 manifest reconciles with the packed stream per shard") {
    val pk = PipelineOps.packedStream(spark, sf0001).collect()
    val mf = PipelineOps.shardManifest(spark, sf0001).collect()
    assert(mf.map(_.getAs[Long]("n_docs")).sum == pk.length.toLong)
    for (m <- mf) {
      val s = m.getAs[Long]("shard")
      val g = pk.filter(_.getAs[Long]("shard") == s)
      assert(m.getAs[Long]("n_tokens") == g.map(_.getAs[Long]("n_tokens")).sum)
      assert(m.getAs[Long]("n_sequences") ==
        g.map(_.getAs[Long]("end_seq")).max + 1)
      assert(m.getAs[Long]("last_pos") == g.map(_.getAs[Long]("pos")).max)
    }
    // distinct member digests: no two shards hold the same doc set
    assert(mf.map(_.getAs[String]("members_md5")).distinct.length ==
      mf.length)
  }

  test("q88 yield funnel is monotone and consistent with its stages") {
    val rows = PipelineOps.pipelineYield(spark, sf0001).collect()
    assert(rows.nonEmpty)
    var totTrain = 0L
    for (r <- rows) {
      val (nd, nq, nt, nf, nc) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_quality"), r.getAs[Long]("n_train"),
        r.getAs[Long]("n_flagged"), r.getAs[Long]("n_final"))
      assert(nd >= nq && nq >= nt && nt >= nf && nc == nt - nf,
        s"source ${r.getAs[String]("source")}")
      totTrain += nt
    }
    assert(totTrain ==
      PipelineOps.trainingCorpus(spark, sf0001).count())
  }

  test("q144 chunks tile every document and always cover the end") {
    import spark.implicits._
    val rows = PipelineOps.ragChunks(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.map(_._1).toSet == docs.keySet)
    for ((id, n) <- docs) {
      val ch = rows.filter(_._1 == id).sortBy(_._2)
      val expect = 1 + math.ceil(math.max(n - 32, 0) / 24.0).toLong
      assert(ch.length == expect, s"doc $id chunk count")
      ch.zipWithIndex.foreach { case ((_, idx, st, nt), i) =>
        assert(idx == i && st == i * 24 + 1)
        assert(nt == math.min(32L, n - i * 24) && nt >= 1)
      }
      val last = ch.last
      assert(last._3 + last._4 - 1 == n, s"doc $id end uncovered")
      ch.sliding(2).foreach {
        case Array(a, b) => assert(b._3 <= a._3 + a._4, s"doc $id gap")
        case _ => ()
      }
    }
  }

  test("q133 apportions the budget exactly and fills every bin to " +
      "min(quota, available)") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"lang",
        coalesce(size(split($"text", " ")), lit(0)).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def binOf(n: Long): Long = math.floor(n / 8.0).toLong
    // driver-side largest-remainder apportionment over the reference bins
    val ref = docs.filter(_._2 == "en").groupBy(d => binOf(d._3))
      .view.mapValues(_.length.toLong).toMap
    val total = ref.values.sum
    val budget = 60L
    val base = ref.map { case (b, c) => (b, budget * c / total) }
    val short = budget - base.values.sum
    val topUp = ref.map { case (b, c) => (b, budget * c % total) }.toSeq
      .sortBy { case (b, r) => (-r, b) }.take(short.toInt).map(_._1).toSet
    val quota = ref.keys.map(b =>
      b -> (base(b) + (if (topUp(b)) 1L else 0L))).toMap
    assert(quota.values.sum == budget,
      "largest remainder must close the budget exactly")
    val got = PipelineOps.lengthMatchedSample(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val tgtAvail = docs.filter(_._2 == "de").groupBy(d => binOf(d._3))
      .view.mapValues(_.length.toLong).toMap
    val gotByBin = got.groupBy(_._1)
    for ((b, q) <- quota) {
      val want = math.min(q, tgtAvail.getOrElse(b, 0L))
      val have = gotByBin.get(b).map(_.length.toLong).getOrElse(0L)
      assert(have == want, s"bin $b drew $have, want $want")
      // positions are the contiguous md5-order prefix of the bin
      val pos = gotByBin.getOrElse(b, Array.empty).map(_._4).sorted
      assert(pos.sameElements((1L to want)), s"bin $b positions: $pos")
    }
    assert(got.forall(g => quota.contains(g._1)),
      "no draw outside a quota'd bin")
    val tgtIds = docs.filter(_._2 == "de").map(_._1).toSet
    assert(got.forall(g => tgtIds(g._2)), "only target-language docs")
    assert(got.nonEmpty)
  }

  test("q135 fertility is the exact per-source rollup of q106, " +
      "ratios integer-consistent") {
    import spark.implicits._
    val fert = PipelineOps.tokenizerFertility(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val q106 = PipelineOps.tokenizeCorpus(spark, sf0001)
      .agg(count(lit(1)), sum($"n_pretokens"), sum($"n_chars"),
        sum($"n_symbols")).head
    assert(fert.map(_._2).sum == q106.getLong(0), "doc counts conserve")
    assert(fert.map(_._3).sum == q106.getLong(1), "pretokens conserve")
    assert(fert.map(_._4).sum == q106.getLong(2), "chars conserve")
    assert(fert.map(_._5).sum == q106.getLong(3), "symbols conserve")
    for ((src, _, _, nc, ns, spk, saved) <- fert) {
      assert(ns <= nc, s"$src: merges can only shrink symbol counts")
      assert(spk == (if (nc == 0) 0L else 1000L * ns / nc), src)
      assert(saved == (if (nc == 0) 0L else 100L * (nc - ns) / nc), src)
    }
    assert(fert.nonEmpty)
  }

  test("q147 wide BPE miner == an independent in-memory reference, " +
      "and degenerates to q101 at M=1") {
    import spark.implicits._
    val got = PipelineOps.bpeMergeTableWide(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq

    // ---- independent reference: pure-Scala mining over the collected
    // corpus (no Spark, no shared helpers beyond the pre-token regex
    // constant both engines must agree on by contract)
    val pat = java.util.regex.Pattern.compile(PipelineOps.preTokenPattern)
    var segs: Array[String] = graft.sources.Tables(spark, sf0001, "documents")
      .select($"text").collect().flatMap(r => Option(r.getString(0)))
      .flatMap { t =>
        val m = pat.matcher(t)
        val b = Array.newBuilder[String]
        while (m.find()) b += m.group(0)
        b.result()
      }
    val expand = scala.collection.mutable.Map.empty[String, String]
    def decode(cp: Int): String = {
      val s = new String(Character.toChars(cp))
      expand.getOrElse(s, s)
    }
    val M = 8; val base = 0xE000
    var nextIdx = 0
    val ref = Vector.newBuilder[(Long, Long, String, String, Long)]
    for (round <- 1 to 5) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for (s <- segs) {
        val cps = s.codePoints().toArray
        var j = 0
        while (j < cps.length - 1) {
          val pair = new String(Character.toChars(cps(j))) +
            new String(Character.toChars(cps(j + 1)))
          counts(pair) = counts.getOrElse(pair, 0L) + 1L
          j += 1
        }
      }
      val ranked = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(8 * M)
      val used = scala.collection.mutable.Set.empty[Int]
      val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var k = 0
      while (k < ranked.length && picked.length < M) {
        val (pair, cnt) = ranked(k)
        val cps = pair.codePoints().toArray
        if (!used(cps(0)) && !used(cps(1))) {
          val sent = new String(Character.toChars(base + nextIdx))
          ref += ((nextIdx + 1L, round.toLong, decode(cps(0)),
            decode(cps(1)), cnt))
          expand(sent) = decode(cps(0)) + decode(cps(1))
          used += cps(0); used += cps(1)
          picked += ((pair, sent))
          nextIdx += 1
        }
        k += 1
      }
      segs = segs.map(s =>
        picked.foldLeft(s) { case (x, (pair, sent)) => x.replace(pair, sent) })
    }
    assert(got == ref.result(), s"engine=${got.take(5)}... " +
      s"ref=${ref.result().take(5)}...")

    // the corpus yields full rounds here: 5 × 8 = 40 merges
    assert(got.length == 40, s"mined ${got.length} merges")
    // per-round counts are non-increasing in selection order (greedy)
    for (Seq(a, b) <- got.sliding(2) if a._2 == b._2)
      assert(a._5 >= b._5, s"greedy order broken: $a then $b")

    // ---- M=1 degeneracy: the wide policy's first pick each round IS
    // q101's top-1 miner — same merges, same counts, same order
    val narrow = PipelineOps.bpeMergeTable(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(narrow.head._2 == got.head._3 && narrow.head._3 == got.head._4
      && narrow.head._4 == got.head._5,
      "round-1 top pick must agree between q101 and q147")

    // ---- APPLICATION parity: the trained wide tokenizer replays as
    // one map-only replace-chain projection (applyMergesExpr at the
    // PUA base), and its corpus symbol mass equals the reference
    // implementation's final segmentation exactly
    val wideMerges = PipelineOps.minedMergesWide(spark, sf0001)
    assert(wideMerges.length == 40)
    val engTotal = graft.sources.Tables(spark, sf0001, "documents")
      .select(explode(regexp_extract_all($"text",
        lit(PipelineOps.preTokenPattern), lit(0))).as("seg"))
      .select(sum(length(
        PipelineOps.applyMergesExpr($"seg", wideMerges, 0xE000))))
      .head.getLong(0)
    val refTotal = segs.map(s => s.codePointCount(0, s.length).toLong).sum
    assert(engTotal == refTotal,
      s"wide application: engine $engTotal vs reference $refTotal")
    // 40 merges compress strictly beyond the 5 narrow ones (empirical
    // on this corpus; per-doc monotonicity is not a theorem)
    val narrowMerges = PipelineOps.minedMerges(spark, sf0001)
    val narrowTotal = graft.sources.Tables(spark, sf0001, "documents")
      .select(explode(regexp_extract_all($"text",
        lit(PipelineOps.preTokenPattern), lit(0))).as("seg"))
      .select(sum(length(
        PipelineOps.applyMergesExpr($"seg", narrowMerges))))
      .head.getLong(0)
    assert(engTotal < narrowTotal,
      s"wide $engTotal should out-compress narrow $narrowTotal")
  }

  test("q177 trained trajectory replays: scoring under round r-1 " +
      "weights reproduces round r's error count, and training error " +
      "strictly improves") {
    import spark.implicits._
    val rows = PipelineOps.perceptronTrain(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val rounds = rows.map(_._1).max.toInt
    val wOf: Map[Long, Map[Long, Long]] = rows.groupBy(_._1)
      .map { case (r, rs) => r -> rs.map(t => t._2 -> t._3).toMap }
    val missOf = rows.groupBy(_._1).map { case (r, rs) => r -> rs.head._4 }
    // independent replay: collect features + teacher labels driver-side
    val feats = PipelineOps.featureHash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val teacherW = (0 until 64)
      .map(d => d.toLong -> (VectorOps.md5Long8(s"w:$d") % 2001 - 1000))
      .toMap
    val docIds = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id").collect().map(_.getLong(0))
    val byDoc = feats.groupBy(_._1)
    def y(id: Long): Long = {
      val s = byDoc.getOrElse(id, Array.empty).map {
        case (_, d, w) => w * teacherW(d) }.sum
      if (s > 0) 1L else -1L
    }
    def margin(id: Long, w: Map[Long, Long]): Long = {
      val s = byDoc.getOrElse(id, Array.empty).map {
        case (_, d, c) => c * w.getOrElse(d, 0L) }.sum
      s + w.getOrElse(64L, 0L) // bias feature, count 1
    }
    for (r <- 2 to rounds) {
      val prev = wOf(r - 1L)
      val miss = docIds.count(id => y(id) * margin(id, prev) <= 0L)
      assert(miss.toLong == missOf(r.toLong),
        s"round $r: replay counts $miss, engine says ${missOf(r.toLong)}")
    }
    // round 1 starts at w=0: everything misclassified by convention
    assert(missOf(1L) == docIds.length.toLong)
    // and the trainer genuinely learns on its realizable target
    assert(missOf(rounds.toLong) < missOf(1L) / 2,
      s"final errors ${missOf(rounds.toLong)} of ${missOf(1L)}")
  }
}
