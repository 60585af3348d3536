package graft

import org.apache.spark.sql.functions._

import graft.functions.BpeEncode
import graft.pipeline.Bpe

/** Real BPE: training determinism on a hand-computed corpus, the
  * merge-application semantics proven equivalent to the SQL oracle's
  * nested-replace replay (the cross-engine contract), and the fused
  * encode expression's edges.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the SQL oracle's twin: one replace() pass on the chr(1)-delimited
  // token string, iterated `passes` times — exactly what the unrolled
  // DuckDB layer does
  private def sqlApply(toks: Array[String], x: String, y: String,
      passes: Int = 16): Array[String] = {
    val SEP = "\u0001"
    var s = SEP + toks.mkString(SEP) + SEP
    val pat = SEP + x + SEP + y + SEP
    val rep = SEP + x + y + SEP
    var p = 0
    while (p < passes) {
      // java.lang.String.replace = leftmost non-overlapping, all
      // occurrences — the same contract as DuckDB's replace()
      s = s.replace(pat, rep)
      p += 1
    }
    s.split(SEP).filter(_.nonEmpty)
  }

  test("applyRule is the SQL nested-replace semantics on adversarial words") {
    val cases = Seq(
      ("a" * 24, "a", "a"),       // self-overlapping chain, max length
      ("ab" * 12, "a", "b"),      // alternating, every pair merges
      ("ab" * 12, "b", "a"),      // alternating, interior pairs
      ("aab" * 8, "a", "a"),
      ("aaab" * 6, "a", "a"),
      ("abc", "x", "y"),          // no-op
      ("aa", "a", "aa"),          // rule whose right side is a merged token
      ("a", "a", "a"))            // single token, nothing to merge
    for ((w, x, y) <- cases) {
      val toks = Array.tabulate(w.length)(i => w.substring(i, i + 1))
      assert(Bpe.applyRule(toks, x, y).toSeq === sqlApply(toks, x, y).toSeq,
        s"word=$w rule=($x,$y)")
    }
    // randomized: every {a,b}-word up to length 12, both rules
    for (len <- 1 to 12; bits <- 0 until (1 << len); (x, y) <- Seq(("a", "a"), ("a", "b"), ("b", "a"))) {
      val w = (0 until len).map(i => if (((bits >> i) & 1) == 0) "a" else "b").toArray
      assert(Bpe.applyRule(w, x, y).toSeq === sqlApply(w, x, y).toSeq,
        s"word=${w.mkString} rule=($x,$y)")
    }
  }

  test("documented divergence from Sennrich apply: self-overlap chains") {
    // "aaaaaaaa" + (a,a): the replace semantics leaves singles between
    // merged pairs within a pass (aa a aa a aa), where Sennrich's
    // single-pass scan gives aa aa aa aa — pinned so a future "fix"
    // cannot silently break oracle parity
    val toks = Array.fill(8)("a")
    assert(Bpe.applyRule(toks, "a", "a").toSeq ===
      Seq("aa", "a", "aa", "a", "aa"))
  }

  test("training on a hand-computed corpus: counts, ties, stop rule") {
    // corpus: "the the the cat hat" — pairs (t,h)=4+weights…
    // hand-compute: words: the×3, cat×1, hat×1
    // iter1 pairs: (t,h):3 (h,e):3 (c,a):1 (a,t):2 (h,a):1
    //   → tie (h,e) vs (t,h) at 3 → lexicographic: (h,e) < (t,h) → he
    // iter2: the=[t,he]×3: (t,he):3 (c,a):1 (a,t):2 (h,a):1 → the
    // iter3: (a,t):2 → at
    // iter4: remaining pairs all count 1 < minPairCount → stop
    val docs = Seq((1L, "the the the cat hat")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", vocabCap = 10, maxMerges = 8)
    assert(merges === Seq(("h", "e"), ("t", "he"), ("a", "t")))
    // encode with the table: the→[the], cat→[c,at], hat→[h,at]
    assert(Bpe.encodeWord("the", merges).toSeq === Seq("the"))
    assert(Bpe.encodeWord("cat", merges).toSeq === Seq("c", "at"))
    assert(Bpe.encodeWord("hat", merges).toSeq === Seq("h", "at"))
  }

  test("vocabCap excludes tail words from training but not from encode") {
    // "zz" appears once; with vocabCap=1 only "the" (count 3) trains
    val docs = Seq((1L, "the the the zz")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", vocabCap = 1, maxMerges = 8)
    assert(merges === Seq(("h", "e"), ("t", "he")))
    // encode still segments zz (untouched by the table)
    assert(Bpe.encodeWord("zz", merges).toSeq === Seq("z", "z"))
  }

  test("the tokenizer is ASCII-only lowercase + [a-z]{1,24} greedy chunks") {
    assert(Bpe.words("The CAT!").toSeq === Seq("the", "cat"))
    // >24-letter runs split greedily into 24 + remainder — identical
    // under java.util.regex and RE2
    assert(Bpe.words("a" * 30).toSeq === Seq("a" * 24, "a" * 6))
    // non-ASCII letters break words and never lower (no locale surprises)
    assert(Bpe.words("naïve Über").toSeq === Seq("na", "ve", "ber"))
    assert(Bpe.words("123 !?").toSeq === Seq.empty)
  }

  test("trainMergesIndexed === trainMerges: hand corpus, real corpus, several configs") {
    val hand = Seq((1L, "the the the cat hat")).toDF("doc_id", "text")
    assert(Bpe.trainMergesIndexed(hand, "text", vocabCap = 10, maxMerges = 8) ===
      Bpe.trainMerges(hand, "text", vocabCap = 10, maxMerges = 8))
    val docs = graft.core.Tables.documents(spark, sf("sf0.001"))
    for ((cap, mm, mpc) <- Seq((2048, 48, 2L), (300, 200, 2L), (100, 500, 1L))) {
      val naive = Bpe.trainMerges(docs, "text", cap, mm, mpc)
      val indexed = Bpe.trainMergesIndexed(docs, "text", cap, mm, mpc)
      assert(indexed === naive, s"cap=$cap maxMerges=$mm minPairCount=$mpc")
    }
  }

  test("encodeWordRanked (Sennrich priority apply): picks by rank, not rule order") {
    // rules learned: 0:(h,e) 1:(t,he) — ranked must merge (h,e) first in
    // "the" even when scanning finds (t,h) earlier in the word
    val merges = Seq(("h", "e"), ("t", "he"), ("a", "t"))
    val ranks = Bpe.rankTable(merges)
    assert(Bpe.encodeWordRanked("the", ranks).toSeq === Seq("the"))
    assert(Bpe.encodeWordRanked("cat", ranks).toSeq === Seq("c", "at"))
    assert(Bpe.encodeWordRanked("hat", ranks).toSeq === Seq("h", "at"))
    assert(Bpe.encodeWordRanked("x", ranks).toSeq === Seq("x"))
    // the DOCUMENTED divergence class, pinned from the ranked side:
    // replay leaves singles between merged pairs ("aa a aa a aa"),
    // Sennrich's single left-to-right pass per pick packs greedily
    val aa = Bpe.rankTable(Seq(("a", "a")))
    assert(Bpe.encodeWordRanked("aaaaaaaa", aa).toSeq === Seq("aa", "aa", "aa", "aa"))
    assert(Bpe.encodeWord("aaaaaaaa", Seq(("a", "a"))).toSeq ===
      Seq("aa", "a", "aa", "a", "aa"))
  }

  test("ranked-vs-replay divergence set is EMPTY over the real corpus vocabulary") {
    // the production path (ranked) and the oracle-gated twin (replay)
    // must agree on every word the corpus actually contains — the
    // divergence class (self-overlap chains re-exposing an earlier
    // rule) is unreachable from corpus-trained tables on real words
    val docs = graft.core.Tables.documents(spark, sf("sf0.01"))
    val merges = Bpe.trainMerges(docs, "text", vocabCap = 2048, maxMerges = 64)
    val ranks = Bpe.rankTable(merges)
    val words = docs.select(explode(Bpe.wordsCol(col("text"))).as("w"))
      .distinct().as[String].collect()
    assert(words.length > 20, "corpus sanity: distinct words to pin")
    def divergentIn(ws: Seq[String], m: Seq[(String, String)]): Seq[String] = {
      val rk = Bpe.rankTable(m)
      ws.filter(w => Bpe.encodeWord(w, m).toSeq != Bpe.encodeWordRanked(w, rk).toSeq)
    }
    assert(divergentIn(words.toSeq, merges).isEmpty,
      s"divergent corpus words: ${divergentIn(words.toSeq, merges).take(10)}")
    // breadth: the synthetic corpus has only ~31 distinct words, so also
    // pin over a seeded pseudo-word corpus (letter-skewed so merges go
    // deep, including repeated-letter runs) with a table TRAINED ON IT —
    // the property under test is "corpus-trained table ⇒ no divergence
    // on that corpus", not anything about hand-built adversarial tables
    val rng = new scala.util.Random(42)
    val letters = "aaaabbbccdefgghiiklmnnoooprrssttuu"
    val pseudo = (0 until 3000).map { _ =>
      val len = 2 + rng.nextInt(12)
      (0 until len).map(_ => letters(rng.nextInt(letters.length))).mkString
    }
    val pdocs = pseudo.grouped(20).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val pm = Bpe.trainMerges(pdocs, "text", vocabCap = 4096, maxMerges = 300)
    assert(pm.length > 100, s"pseudo corpus trained ${pm.length} merges")
    val pd = divergentIn(pseudo.distinct, pm)
    assert(pd.isEmpty, s"divergent pseudo words: ${pd.take(10)}")
    // and the fused expression in ranked mode equals the replay mode
    // end-to-end on whole documents
    val replay = docs.select(col("doc_id"),
      BpeEncode(col("text"), merges).getField("segmented").as("s"))
    val ranked = docs.select(col("doc_id"),
      BpeEncode(col("text"), merges, ranked = true).getField("segmented").as("s"))
    assert(replay.exceptAll(ranked).isEmpty && ranked.exceptAll(replay).isEmpty)
  }

  test("PRODUCTION SCALE: 32k-merge divergence is EXACTLY the self-overlap class (~1 in 58k words)") {
    // the two forms' throughput was measured on this corpus (shared
    // builder: ZipfCorpus; ROUND_NOTES, round 15 certification record,
    // "BPE production measurements"); this pin checks their
    // EQUALITY at the same scale — and finds the honest result: at 32k
    // merges a corpus-trained table DOES produce chain orders (e.g.
    // (a,a) early, (aa,a)/(aa,aa) later), so the documented self-overlap
    // divergence class is REACHABLE at production depth — measured ONE
    // word in ~58k ("hguaaaaano", via its "aaaaa" run) — unlike at gate
    // scale (<= 64 merges, pinned EMPTY above). This test pins the
    // divergence set to exactly that class and that order of magnitude,
    // and proves each divergent word diverges under the PLAIN replay too
    // (ruling out the indexed-replay shortcut as the cause).
    //
    // Checking 58k words × 32k-rule plain replay is O(words·merges) —
    // minutes. An INDEXED replay is exactly equivalent: tokens are always
    // contiguous substrings of the original word, so a rule (x, y) can
    // only ever fire when x+y occurs as a substring — every other rule's
    // applyRule is the identity and can be skipped. Candidate rules are
    // applied in learned order, each to fixpoint, like the plain form.
    def substrings(w: String): java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](w.length * w.length)
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= w.length) { s.add(w.substring(i, j)); j += 1 }
        i += 1
      }
      s
    }
    def replayIndexed(w: String, merges: IndexedSeq[(String, String)],
        byXy: java.util.HashMap[String, List[Int]]): Seq[String] = {
      val subs = substrings(w)
      val cand = scala.collection.mutable.ArrayBuffer.empty[Int]
      val it = subs.iterator()
      while (it.hasNext) {
        val rs = byXy.get(it.next())
        if (rs != null) cand ++= rs
      }
      val order = cand.toArray
      java.util.Arrays.sort(order)
      var t: Array[String] = Array.tabulate(w.length)(i => w.substring(i, i + 1))
      var k = 0
      while (k < order.length) {
        val (x, y) = merges(order(k))
        t = Bpe.applyRule(t, x, y)
        k += 1
      }
      t.toSeq
    }
    def xyIndex(merges: Seq[(String, String)]): java.util.HashMap[String, List[Int]] = {
      val m = new java.util.HashMap[String, List[Int]](merges.size * 2)
      merges.zipWithIndex.foreach { case ((x, y), i) =>
        val k = x + y
        val prev = m.get(k)
        m.put(k, if (prev == null) List(i) else prev :+ i)
      }
      m
    }
    // trust chain, step 1: indexed replay == plain replay on a corpus
    // where the plain form is affordable (real sf0.01 vocab + its table)
    val docs = graft.core.Tables.documents(spark, sf("sf0.01"))
    val smallMerges = Bpe.trainMerges(docs, "text", vocabCap = 2048, maxMerges = 64)
    val smallWords = docs.select(explode(Bpe.wordsCol(col("text"))).as("w"))
      .distinct().as[String].collect()
    val smallIdx = xyIndex(smallMerges)
    val smallVec = smallMerges.toIndexedSeq
    smallWords.foreach { w =>
      assert(replayIndexed(w, smallVec, smallIdx) === Bpe.encodeWord(w, smallMerges).toSeq,
        s"indexed replay diverged from plain replay on '$w'")
    }
    // step 2: the production corpus — train 32k merges with the indexed
    // trainer, then divergence(replay, ranked) over every distinct word
    val pseudo = graft.tools.ZipfCorpus.build(spark)
    val merges = Bpe.trainMergesIndexed(pseudo, "text",
      vocabCap = 49152, maxMerges = 32768, minPairCount = 2L)
    assert(merges.length > 16384, s"trained only ${merges.length} merges")
    val words = pseudo.select(explode(Bpe.wordsCol(col("text"))).as("w"))
      .distinct().as[String].collect()
    assert(words.length > 50000, s"corpus sanity: ${words.length} distinct words")
    val mergesVec = merges.toIndexedSeq
    val byXy = xyIndex(merges)
    val ranks = Bpe.rankTable(merges)
    val divergent = new java.util.concurrent.ConcurrentLinkedQueue[String]
    java.util.Arrays.stream(words).parallel().forEach { w =>
      if (replayIndexed(w, mergesVec, byXy) != Bpe.encodeWordRanked(w, ranks).toSeq)
        divergent.add(w)
    }
    val div = divergent.toArray(new Array[String](0))
    // the divergence RATE stays negligible (the production-path contract:
    // ranked is true Sennrich; replay exists for SQL-oracle parity)
    assert(div.length <= words.length / 1000,
      s"divergence rate blew up: ${div.length} of ${words.length}")
    div.foreach { w =>
      // every divergent word carries a self-overlap chain (a run of >= 4
      // of one letter — the only shape that exposes (x,x)+(xx,·) orders)
      assert("([a-z])\\1{3,}".r.findFirstIn(w).isDefined,
        s"divergent word '$w' is outside the self-overlap class")
      // and the PLAIN replay diverges identically — the indexed replay
      // shortcut is not the cause (affordable: |div| words, not 58k)
      assert(Bpe.encodeWord(w, merges).toSeq === replayIndexed(w, mergesVec, byXy),
        s"indexed replay diverged from plain replay on '$w'")
    }
    // the corpus regime is stable: this exact corpus + trainer yields
    // exactly one divergent word; a generator or trainer change that
    // shifts the set shows up here as a loud diff, not silence
    assert(div.toSeq === Seq("hguaaaaano"),
      s"divergence set changed: ${div.toSeq.take(10)}")
  }

  test("BpeEncode expression: counts, segmentation md5 stability, edges") {
    val merges = Seq(("t", "h"), ("th", "e"))
    val df = Seq(
      (1L, "The theme"), (2L, ""), (3L, "??!!"), (4L, null: String))
      .toDF("id", "t")
      .select(col("id"), BpeEncode(col("t"), merges).as("b"))
      .orderBy("id").collect()
    // "the theme": the→[the], theme→[the,m,e]
    assert(df(0).getStruct(1).getLong(0) === 2L) // n_words
    assert(df(0).getStruct(1).getLong(1) === 4L) // n_tokens
    assert(df(0).getStruct(1).getString(2) === "the the m e")
    assert(df(1).getStruct(1).getLong(0) === 0L)
    assert(df(1).getStruct(1).getString(2) === "")
    assert(df(2).getStruct(1).getLong(1) === 0L)
    assert(df(3).isNullAt(1))
    // segmentation is lossless: tokens concatenate back to the words
    val words = Bpe.words("reconstruction property holds everywhere")
    words.foreach { w =>
      assert(Bpe.encodeWord(w, merges).mkString === w)
    }
  }

  test("SQL registration: bpe_encode with an inline merge list (trim + validation)") {
    graft.functions.GraftExtensions.register(spark)
    // whitespace around commas is list formatting; the pair's interior
    // space separates left from right
    val r = spark.sql("SELECT bpe_encode('the theme', 't h, th e') AS b")
      .head().getStruct(0)
    assert((r.getLong(0), r.getLong(1), r.getString(2)) ===
      ((2L, 4L, "the the m e")))
    // a malformed pair is a loud analysis-time error, not a silent no-op
    val e = intercept[Exception] {
      spark.sql("SELECT bpe_encode('x', 'abc')").head()
    }
    assert(e.getMessage.contains("must be 'left right'"))
    // optional third arg selects the ranked (production) apply; on a
    // corpus-shaped table the two forms agree (the divergence pins above)
    val rr = spark.sql("SELECT bpe_encode('the theme', 't h, th e', true) AS b")
      .head().getStruct(0)
    assert((rr.getLong(0), rr.getLong(1), rr.getString(2)) ===
      ((2L, 4L, "the the m e")))
    val eb = intercept[Exception] {
      spark.sql("SELECT bpe_encode('x', 't h', 'yes')").head()
    }
    assert(eb.getMessage.contains("boolean literal"))
  }

  test("BpeEncode runs statelessly on a STREAM, identical to batch") {
    // the ingest-side story: documents arriving on a stream tokenize
    // with the standing merge table (a reference object, no state store)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"))
    val rows = Seq((1L, "the weather"), (2L, ""), (3L, "THERMAL ther"))
    def features(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), BpeEncode(col("t"), merges).as("b"))
    val batch = features(rows.toDF("id", "t")).orderBy("id").collect().toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = features(in.toDF().toDF("id", "t"))
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_stream_out").start()
    try {
      in.addData(rows.take(1): _*)
      q.processAllAvailable()
      in.addData(rows.drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.table("bpe_stream_out").orderBy("id").collect().toSeq
      assert(streamed === batch)
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("empty merge table degrades to character segmentation") {
    assert(Bpe.encodeWord("abc", Seq.empty).toSeq === Seq("a", "b", "c"))
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    assert(Bpe.trainMerges(docs, "text", vocabCap = 5, maxMerges = 0) === Seq.empty)
  }
}
