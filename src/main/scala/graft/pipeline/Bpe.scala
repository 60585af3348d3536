package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** REAL byte-pair-encoding tokenizer: merge-table TRAINING on the corpus
  * plus corpus ENCODE with the trained table — replacing the former
  * "BPE-ish estimate" with the actual algorithm, hash-gated end to end.
  *
  * Everything here is defined so the DuckDB oracle can REPLAY it
  * exactly (no inlined runtime state — the oracle re-trains in SQL):
  *
  *   - word tokenizer: ASCII-lowercase (A-Z→a-z via translate — never
  *     locale-sensitive lower()), then `[a-z]{1,24}` — the {1,24} bound
  *     makes a >24-letter run split GREEDILY into 24-char chunks
  *     identically under java.util.regex and RE2, and bounds the merge
  *     pass count below;
  *   - training: over the TOP `vocabCap` words by (count DESC, word ASC)
  *     — deterministic; each iteration picks the adjacent token pair
  *     with the highest corpus count (weighted by word count, every
  *     adjacency counted, overlaps included), tie-broken (x ASC, y ASC),
  *     stopping when the best count falls below `minPairCount`;
  *   - merge application (ONE rule): a left-to-right NON-OVERLAPPING
  *     merge pass — after merging at i, the following token cannot start
  *     a match in the same pass — iterated to fixpoint. This is exactly
  *     what SQL `replace(seq, SEP||x||SEP||y||SEP, SEP||xy||SEP)` does
  *     on the separator-delimited token string when iterated, which is
  *     WHY it is the chosen semantics: the oracle replays a pass as one
  *     replace() and a rule as 16 nested replaces (a word has ≤ 24
  *     tokens, so ≤ 12 merges of one rule can ever apply; each
  *     non-fixpoint pass applies ≥ 1, so 16 passes always reach
  *     fixpoint). NOTE this differs from Sennrich's reference apply
  *     only on self-overlapping chains ("aaaaaaaa" with rule (a,a) →
  *     "aa a aa a aa" here) — a documented, engine-replayable choice;
  *   - encode: each rule applied in learned order, each to fixpoint.
  *
  * Scale shape: training is the Pq-codebook pattern (ONE distributed
  * word-count aggregation, top-K collect bounded by `vocabCap`, merge
  * loop on the driver over ≤ vocabCap short words); encode is a fused
  * map-only reference-object expression ([[graft.functions.BpeEncode]])
  * — the merge table rides the closure, no join, no shuffle, one pass
  * over each document.
  */
object Bpe {

  val Upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  val Lower = "abcdefghijklmnopqrstuvwxyz"

  /** Word-length cap shared by [[WordRegex]] AND every consumer that
    * enumerates word positions (the Unigram seed oracle iterates
    * substring starts 1..MaxWordLen — ADVICE r17: a silent hardcoded 25
    * there would desynchronize from a regex cap change with no error).
    */
  val MaxWordLen = 24

  val WordRegex = s"[a-z]{1,$MaxWordLen}"
  private val WordPattern = java.util.regex.Pattern.compile(WordRegex)

  /** The tokenizer's Column form — shared by training and any SQL-side
    * consumer so the two can never disagree with the encode expression.
    */
  def wordsCol(text: Column): Column =
    regexp_extract_all(translate(text, Upper, Lower), lit(WordRegex), lit(0))

  /** The tokenizer's Scala form (the encode expression's path). */
  def words(text: String): Array[String] = {
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    val m = WordPattern.matcher(sb)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** ONE merge pass: left-to-right, non-overlapping (after a merge at i
    * the next token cannot start a match — its leading boundary was
    * consumed, the replace() semantics). Returns null when nothing
    * merged, so callers can loop to fixpoint without an equality scan.
    */
  private def mergePass(toks: Array[String], x: String, y: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
    var i = 0
    var changed = false
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == x && toks(i + 1) == y) {
        out += x + y
        if (i + 2 < toks.length) out += toks(i + 2)
        i += 3
        changed = true
      } else {
        out += toks(i)
        i += 1
      }
    }
    if (changed) out.toArray else null
  }

  /** Apply one rule to fixpoint (the SQL nested-replace semantics). */
  def applyRule(toks: Array[String], x: String, y: String): Array[String] = {
    var cur = toks
    var next = mergePass(cur, x, y)
    while (next != null) { cur = next; next = mergePass(cur, x, y) }
    cur
  }

  /** Segment one word with the full merge table, rules in learned order. */
  def encodeWord(word: String, merges: Seq[(String, String)]): Array[String] = {
    var toks: Array[String] = Array.tabulate(word.length)(i => word.substring(i, i + 1))
    merges.foreach { case (x, y) => toks = applyRule(toks, x, y) }
    toks
  }

  /** Rank lookup table for [[encodeWordRanked]]: pair (x, y) keyed as
    * x + '' + y (tokens are `[a-z]+`, so the separator can never
    * collide), value = learned rank (0 = first merge).
    */
  def rankTable(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    var r = 0
    merges.foreach { case (x, y) => m.put(x + '' + y, r); r += 1 }
    m
  }

  /** Segment one word by PRIORITY apply — the Sennrich reference form:
    * repeatedly merge the LOWEST-RANK adjacent pair present (one
    * left-to-right non-overlapping pass per pick) until no pair is in
    * the table. Work per word is O(len² · map-lookup), INDEPENDENT of
    * merge-table size — the production path at 32k+ merges, where the
    * replay form's rule-sequential scan pays O(|merges|) per word even
    * when nothing applies.
    *
    * Semantics vs [[encodeWord]] (the oracle-replayable form): identical
    * except on self-overlap chains — a run of one letter long enough
    * that the table holds BOTH (x,x) and a later chain rule over its
    * product ((xx,x), (xx,xx), …), where the two applies group the run
    * differently. At gate scale (<= 64 merges, real corpus) BpeSpec pins
    * the divergence set EMPTY; at PRODUCTION depth the class is
    * reachable — a 32k-merge table trained on the ~58k-word Zipf corpus
    * diverges on exactly ONE word (a 5-run of 'a'; BpeSpec pins the set
    * to that word and the class shape). Gates stay on the replay form;
    * token COUNTS typically agree even where grouping differs (ROUND_NOTES,
    * round 16, "BPE production-scale divergence").
    */
  def encodeWordRanked(
      word: String, ranks: java.util.HashMap[String, Integer]): Array[String] = {
    var toks: Array[String] = Array.tabulate(word.length)(i => word.substring(i, i + 1))
    var continue = toks.length > 1
    while (continue) {
      // lowest-rank pair present
      var bestRank = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.get(toks(i) + '' + toks(i + 1))
        if (r != null && r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        // one left-to-right non-overlapping pass of the picked rule —
        // mergePass semantics, inlined over the rank check
        val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        var j = 0
        while (j < toks.length) {
          if (j + 1 < toks.length && {
                val r = ranks.get(toks(j) + '' + toks(j + 1))
                r != null && r.intValue() == bestRank
              }) {
            out += toks(j) + toks(j + 1)
            j += 2
          } else {
            out += toks(j)
            j += 1
          }
        }
        toks = out.toArray
        continue = toks.length > 1
      }
    }
    toks
  }

  /** Train `maxMerges` merges on the corpus: ONE distributed word-count
    * aggregation, then a driver-side loop over the top-`vocabCap` words
    * (≤ a few thousand short strings — the Pq codebook pattern). Stops
    * early when no adjacent pair reaches `minPairCount`.
    */
  def trainMerges(
      docs: DataFrame,
      textCol: String,
      vocabCap: Int = 2048,
      maxMerges: Int = 48,
      minPairCount: Long = 2L): Seq[(String, String)] = {
    require(vocabCap > 0 && maxMerges >= 0 && minPairCount >= 1)
    val vocab = docs
      .select(explode(wordsCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val seqs: Array[Array[String]] = vocab.map { case (w, _) =>
      Array.tabulate(w.length)(i => w.substring(i, i + 1))
    }
    val counts = vocab.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var stop = false
    while (!stop && merges.length < maxMerges) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var j = 0
      while (j < seqs.length) {
        val t = seqs(j)
        var i = 0
        while (i < t.length - 1) {
          val k = (t(i), t(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + counts(j))
          i += 1
        }
        j += 1
      }
      val eligible = pairCounts.iterator.filter(_._2 >= minPairCount)
      if (!eligible.hasNext) stop = true
      else {
        // max count, ties to the lexicographically smallest (x, y)
        var best: ((String, String), Long) = eligible.next()
        eligible.foreach { e =>
          val better = e._2 > best._2 ||
            (e._2 == best._2 && (e._1._1 < best._1._1 ||
              (e._1._1 == best._1._1 && e._1._2 < best._1._2)))
          if (better) best = e
        }
        val (x, y) = best._1
        merges += ((x, y))
        var k = 0
        while (k < seqs.length) { seqs(k) = applyRule(seqs(k), x, y); k += 1 }
      }
    }
    merges.toSeq
  }

  /** [[trainMerges]] with INCREMENTAL pair-count maintenance — the
    * production trainer at 16k-64k merges, where the naive form's
    * full-vocab rescan per iteration is O(maxMerges · Σ|word|) and
    * stops scaling past a few hundred merges.
    *
    * Identical output to [[trainMerges]] BY CONSTRUCTION (BpeSpec pins
    * equality): same ONE distributed word-count aggregation, same
    * top-`vocabCap` (count DESC, word ASC) training vocab, same argmax
    * (count DESC, x ASC, y ASC), same per-rule [[applyRule]] fixpoint
    * application. The difference is bookkeeping only: a TreeSet keyed
    * (count DESC, x, y) holds every eligible pair, a pair→words index
    * narrows each iteration's re-segmentation to words that CONTAIN the
    * picked pair, and count deltas from those words' old/new adjacency
    * multisets update the TreeSet incrementally — O(affected words ·
    * word length · log #pairs) per merge instead of O(vocab).
    */
  def trainMergesIndexed(
      docs: DataFrame,
      textCol: String,
      vocabCap: Int = 2048,
      maxMerges: Int = 48,
      minPairCount: Long = 2L): Seq[(String, String)] = {
    require(vocabCap > 0 && maxMerges >= 0 && minPairCount >= 1)
    val vocab = docs
      .select(explode(wordsCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val seqs: Array[Array[String]] = vocab.map { case (w, _) =>
      Array.tabulate(w.length)(i => w.substring(i, i + 1))
    }
    val counts = vocab.map(_._2)

    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    def adjacencies(t: Array[String]): Iterator[(String, String)] =
      (0 until t.length - 1).iterator.map(i => (t(i), t(i + 1)))

    var j = 0
    while (j < seqs.length) {
      adjacencies(seqs(j)).foreach { k =>
        pairCount.update(k, pairCount.getOrElse(k, 0L) + counts(j))
        pairWords.getOrElseUpdate(k, scala.collection.mutable.HashSet.empty) += j
      }
      j += 1
    }

    // (count DESC, x ASC, y ASC): head() IS the trainMerges argmax.
    // Entries carry their count so mutation = remove(old) + add(new)
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
    val sorted = scala.collection.mutable.TreeSet.empty[(Long, String, String)]
    pairCount.foreach { case ((x, y), c) => if (c >= minPairCount) sorted += ((c, x, y)) }

    def bump(k: (String, String), delta: Long, wordIdx: Int, add: Boolean): Unit = {
      val old = pairCount.getOrElse(k, 0L)
      val nw = old + delta
      if (old >= minPairCount) sorted -= ((old, k._1, k._2))
      if (nw > 0) pairCount(k) = nw else pairCount.remove(k)
      if (nw >= minPairCount) sorted += ((nw, k._1, k._2))
      val set = pairWords.getOrElseUpdate(k, scala.collection.mutable.HashSet.empty)
      if (add) set += wordIdx
      // stale membership after removal is tolerated: the apply loop
      // skips words whose current seq no longer contains the pair
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var stop = false
    while (!stop && merges.length < maxMerges) {
      if (sorted.isEmpty) stop = true
      else {
        val (_, x, y) = sorted.head
        merges += ((x, y))
        val pair = (x, y)
        val affected = pairWords.get(pair).map(_.toArray).getOrElse(Array.empty)
        var a = 0
        while (a < affected.length) {
          val idx = affected(a)
          val before = seqs(idx)
          val after = applyRule(before, x, y)
          if (after ne before) {
            val c = counts(idx)
            // delta-update: subtract the old adjacency multiset, add the new
            adjacencies(before).foreach(k => bump(k, -c, idx, add = false))
            adjacencies(after).foreach(k => bump(k, c, idx, add = true))
            seqs(idx) = after
          }
          a += 1
        }
        // the merged pair itself must now be gone everywhere (its delta
        // updates drove it to zero); force-drop defensively so an
        // accounting bug can never re-pick the same head forever
        pairWords.remove(pair)
        pairCount.remove(pair).foreach { c =>
          if (c >= minPairCount) sorted -= ((c, x, y))
        }
      }
    }
    merges.toSeq
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle replay: the training + encode above, as ONE static SQL
  // string with the merge iterations UNROLLED (the oracle re-trains —
  // nothing from the Spark run is inlined). Shared by both gates.
  // ---------------------------------------------------------------------

  /** chr(1)-delimited replace nested `passes` times — one rule applied to
    * fixpoint (≤ 12 merges can apply within a ≤ 24-token word and every
    * non-fixpoint pass applies ≥ 1, so 16 passes suffice).
    */
  private def nestedReplace(passes: Int): String =
    (1 to passes).foldLeft("seq")((acc, _) => s"replace($acc, b.pat, b.rep)")

  /** The unrolled training chain: CTEs w0 (doc words with ordinality),
    * v0 (distinct-word state with the top-`vocabCap` train flag), then
    * per layer k: t{k} (token lists), p{k} (weighted pair counts over the
    * training vocab), b{k} (the argmax pair), v{k+1} (the merge applied
    * to EVERY word — segmentation covers the whole corpus, training
    * statistics only the capped vocab).
    */
  private def trainChainSql(table: String, vocabCap: Int, maxMerges: Int,
      minPairCount: Long): String = {
    // MATERIALIZED on every CTE referenced twice: DuckDB inlines plain
    // CTEs, and v{k+1} references t{k} both directly and via b{k}→p{k} —
    // unmaterialized, the reference count doubles per layer (2^48 scans)
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(translate(text, '$Upper', '$Lower'), '$WordRegex')) AS word,
         |    unnest(range(len(regexp_extract_all(translate(text, '$Upper', '$Lower'), '$WordRegex')))) AS ord
         |  FROM $table
         |), v0 AS (
         |  SELECT word, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, word ASC) <= $vocabCap AS in_train,
         |    chr(1) || regexp_replace(word, '(.)', '\\1' || chr(1), 'g') AS seq
         |  FROM (SELECT word, count(*) AS cnt FROM w0 GROUP BY word)
         |)""".stripMargin)
    for (k <- 0 until maxMerges) {
      sb.append(
        s""", t$k AS MATERIALIZED (
           |  SELECT *, list_filter(string_split(seq, chr(1)), s -> s <> '') AS toks FROM v$k
           |), p$k AS (
           |  SELECT pr[1] AS x, pr[2] AS y, sum(cnt) AS c FROM (
           |    SELECT cnt, unnest(list_transform(range(0, len(toks) - 1),
           |      i -> [toks[CAST(i + 1 AS INTEGER)], toks[CAST(i + 2 AS INTEGER)]])) AS pr
           |    FROM t$k WHERE in_train)
           |  GROUP BY 1, 2 HAVING sum(cnt) >= $minPairCount
           |), b$k AS (
           |  SELECT x, y, chr(1) || x || chr(1) || y || chr(1) AS pat,
           |         chr(1) || x || y || chr(1) AS rep
           |  FROM p$k ORDER BY c DESC, x ASC, y ASC LIMIT 1
           |), v${k + 1} AS (
           |  SELECT word, cnt, in_train,
           |    CASE WHEN b.pat IS NULL THEN seq ELSE ${nestedReplace(16)} END AS seq
           |  FROM t$k LEFT JOIN b$k b ON TRUE
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Oracle SQL for the merge-table gate: rank + pair per layer. */
  def oracleSqlMerges(table: String, vocabCap: Int, maxMerges: Int,
      minPairCount: Long): String = {
    val picks = (0 until maxMerges)
      .map(k => s"SELECT ${k + 1} AS mrank, x AS left_tok, y AS right_tok FROM b$k")
      .mkString("\n  UNION ALL ")
    s"""${trainChainSql(table, vocabCap, maxMerges, minPairCount)}
       |SELECT * FROM (
       |  $picks
       |) ORDER BY mrank""".stripMargin
  }

  /** Oracle SQL for the BPE-budgeted sampler gate: per-document REAL
    * token counts from the replayed final vocab state feed the
    * token-budget window (the q_mixture_token_budget semantics — the
    * window form IS the sampler's definition; Spark runs the scalable
    * prefix-scan equivalent).
    */
  def oracleSqlTokenBudget(table: String, vocabCap: Int, maxMerges: Int,
      minPairCount: Long, budget: Long, salt: String): String =
    s"""${trainChainSql(table, vocabCap, maxMerges, minPairCount)}
       |, vf AS (
       |  SELECT word,
       |    len(list_filter(string_split(seq, chr(1)), s -> s <> '')) AS ntok
       |  FROM v$maxMerges
       |), dt AS (
       |  SELECT d.doc_id, d.source, CAST(coalesce(a.tk, 0) AS BIGINT) AS tk,
       |    substr(md5('$salt' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS hx
       |  FROM $table d LEFT JOIN (
       |    SELECT w0.doc_id, sum(v.ntok) AS tk
       |    FROM w0 JOIN vf v ON w0.word = v.word GROUP BY w0.doc_id
       |  ) a ON d.doc_id = a.doc_id
       |), wd AS (
       |  SELECT doc_id, source, tk,
       |    sum(tk) OVER (PARTITION BY source ORDER BY hx, doc_id
       |                  ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM dt
       |)
       |SELECT doc_id, source, tk AS tokens,
       |  CAST(cum - tk AS BIGINT) AS tokens_before
       |FROM wd WHERE cum - tk < $budget
       |ORDER BY doc_id""".stripMargin

  /** Oracle SQL for the corpus-encode gate: every document's word stream
    * segmented by the final vocab state, re-joined in word order.
    */
  def oracleSqlTokenize(table: String, vocabCap: Int, maxMerges: Int,
      minPairCount: Long): String =
    s"""${trainChainSql(table, vocabCap, maxMerges, minPairCount)}
       |, vf AS (
       |  SELECT word,
       |    trim(replace(seq, chr(1), ' ')) AS seg,
       |    len(list_filter(string_split(seq, chr(1)), s -> s <> '')) AS ntok
       |  FROM v$maxMerges
       |), agg AS (
       |  SELECT w0.doc_id,
       |    count(*) AS n_words,
       |    CAST(sum(v.ntok) AS BIGINT) AS n_tokens,
       |    md5(string_agg(v.seg, ' ' ORDER BY w0.ord)) AS seg_md5
       |  FROM w0 JOIN vf v ON w0.word = v.word
       |  GROUP BY w0.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  coalesce(a.seg_md5, md5('')) AS seg_md5
       |FROM $table d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
}
