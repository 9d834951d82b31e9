package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (merge learning), the word-dict
  * formulation every industrial trainer uses (SentencePiece / HF
  * tokenizers): the corpus collapses ONCE into a (word, count) frequency
  * table, and all merge rounds run over that vocabulary-sized table —
  * never over the corpus again.
  *
  * Scale shape at 100 TB:
  *  - one corpus-wide shuffle total (the word-count groupBy, map-side
  *    combinable; distinct words cross the wire, never documents);
  *  - the dict is then COLLECTED once and every merge round runs in
  *    driver memory — the dict is Heaps-law bounded (vocabulary, not
  *    corpus, ~10⁷ entries at 100 TB), i.e. the same bounded-model pull
  *    as the merge list itself, and exactly how SentencePiece / HF
  *    trainers hold their word-count tables. The previous formulation
  *    ran one Spark job per round over the cached dict; at 8–64 rounds
  *    that is pure scheduler floor for identical arithmetic;
  *  - the learned model (the merge list) is R driver-side rows, folded
  *    back into the apply plan as literal `replace` rewrites, so plan
  *    growth is bounded by `rounds`, not by data.
  *
  * Symbol sequences ride as delimited strings ("␟l␟␟o␟␟w␟") rather than
  * arrays: applying a merge is then ONE codegen `StringReplace`
  * (leftmost, non-overlapping — the greedy BPE application order), and
  * wrapping every symbol in its own delimiter pair makes adjacent merges
  * self-delimiting ("␟a␟␟b␟␟a␟␟b␟" → "␟ab␟␟ab␟" in a single pass).
  *
  * Training is restricted to `[a-z0-9]+` words after lowercasing, so a
  * "symbol" is always a whole ASCII char — no multi-byte splitting
  * ambiguity — and the delimiter (U+241F) can never occur inside one.
  */
object Bpe {

  /** Collect-bound cap on the word-frequency dictionary: Heaps-law vocab
    * growth keeps real corpora far below this; a corpus that trips it is
    * feeding unsegmented garbage into the trainer. */
  val MaxVocab = 20000000

  /** A pair weight after one bookkeeping delta. Exact deltas never take
    * a weight below zero, so a negative result is an accounting bug: it
    * fails here instead of entering the merge heap as a bogus candidate.
    */
  private[graft] def nextWeight(pair: (String, String), weight: Long,
      delta: Long): Long = {
    val nw = weight + delta
    if (nw < 0L) throw new IllegalStateException(
      s"BPE pair weight underflow: $pair at $weight + $delta = $nw")
    nw
  }

  /** Symbol delimiter — U+241F SYMBOL FOR UNIT SEPARATOR. */
  val Delim = "␟"

  final case class Merge(
      merge_rank: Int, lhs: String, rhs: String, merged: String, weight: Long)

  /** Learn `rounds` BPE merges from the corpus; returns one row per merge
    * in learned order: (merge_rank, lhs, rhs, merged, weight) where
    * weight is the occurrence-weighted adjacent-pair count at the time
    * the merge was chosen. Ties break on (lhs, rhs) ascending, so the
    * result is deterministic.
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val D2 = Delim + Delim
    // ONE corpus shuffle (map-side-combinable word count), ONE bounded
    // collect of the vocab-sized dict; the merge rounds below are pure
    // in-memory arithmetic on it
    val dict0 = Par.spread(docs, col(textCol))
      .select(explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= ""))
        .as("w"))
      .filter($"w".rlike("^[a-z0-9]+$"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select($"w", $"cnt").as[(String, Long)]
    val dict = graft.util.CollectCapped(dict0, MaxVocab,
      "BPE word-frequency dictionary (Heaps-law vocab)")
    // delimited symbol sequence per word: "␟l␟␟o␟␟w␟"
    val seqs = dict.map { case (w, _) =>
      Delim + w.map(_.toString).mkString(D2) + Delim }
    val cnts = dict.map(_._2)

    // Incremental pair bookkeeping (the SentencePiece/HF trainer
    // discipline): pair weights and a pair → candidate-word inverted
    // index are built ONCE, and each merge round touches only the words
    // that actually contain the chosen pair — a full recount per round
    // is O(rounds × Σ|word|) of hashing for arithmetic that changes in
    // only a few rows. Index entries go stale when a word is rewritten;
    // candidates are re-validated by a cheap substring check, so stale
    // ids cost a contains(), never correctness. All updates are exact
    // integer deltas, so every round's weights equal the full recount's
    // bit for bit (ties break on (-w, lhs, rhs) total order, not map
    // iteration order).
    def wordPairs(seq: String): Array[(String, String)] = {
      val syms = seq.stripPrefix(Delim).stripSuffix(Delim).split(D2)
      if (syms.length < 2) Array.empty
      else Array.tabulate(syms.length - 1)(j => (syms(j), syms(j + 1)))
    }
    val weights =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    val index = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    // Lazy-deletion max-heap over (weight desc, lhs asc, rhs asc) — the
    // SAME total order the previous per-round `minBy { (-w, l, r) }`
    // full-map rescan used, so the learned merge table is bit-identical
    // (pinned in OpsSpec against a full-recount reference). Every weight
    // write pushes a fresh (w, l, r) entry; a popped entry is valid iff
    // the map still holds exactly that weight for that pair — stale
    // entries (superseded or deleted weights) are discarded on pop.
    // Each round becomes O(log n) amortized instead of an O(n) rescan
    // (round-18, VERDICT r17 #3).
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      1024,
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String),
            b: (Long, String, String)): Int = {
          val cw = java.lang.Long.compare(b._1, a._1) // weight DESC
          if (cw != 0) cw
          else {
            val cl = a._2.compareTo(b._2) // lhs ASC (ASCII alnum ≡ UTF8)
            if (cl != 0) cl else a._3.compareTo(b._3) // rhs ASC
          }
        }
      })
    def addWeight(k: (String, String), delta: Long): Unit = {
      val nw = nextWeight(k, weights.getOrElse(k, 0L), delta)
      if (nw == 0L) weights.remove(k)
      else {
        weights.update(k, nw)
        heap.add((nw, k._1, k._2))
      }
    }
    // initial build: plain map updates (one heap push per DISTINCT pair
    // after the loop, not one per (pair, word) instance — the instance
    // count is Σ|word| over the vocab, the distinct-pair count is
    // symbol-alphabet-bounded and tiny)
    var i = 0
    while (i < seqs.length) {
      for (k <- wordPairs(seqs(i))) {
        weights.update(k, weights.getOrElse(k, 0L) + cnts(i))
        index.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += i
      }
      i += 1
    }
    for ((k, w) <- weights) heap.add((w, k._1, k._2))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // pop until the top entry still matches the live map (lazy
      // deletion); an empty heap ⇒ weights is empty too (every live
      // weight has at least one matching heap entry by construction)
      var top: (Long, String, String) = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (weights.get((e._2, e._3)).contains(e._1)) top = e
      }
      if (top == null) exhausted = true // no adjacent pairs left
      else {
        // max weight, ties ascending on (lhs, rhs) — symbols are ASCII
        // alnum so Scala string order ≡ the previous orderBy's UTF8
        // binary order
        val (w, l, rt) = top
        merges += Merge(r, l, rt, l + rt, w)
        // leftmost non-overlapping replace-all — String.replace, the
        // same semantics as the codegen StringReplace the apply kernel
        // and segment() use
        val from = Delim + l + Delim + Delim + rt + Delim
        val to = Delim + l + rt + Delim
        val cands = index.remove((l, rt)).getOrElse(
          scala.collection.mutable.ArrayBuffer.empty)
        // dedupe stale repeats so a word's delta applies exactly once
        for (x <- cands.distinct if seqs(x).contains(from)) {
          for (k <- wordPairs(seqs(x))) addWeight(k, -cnts(x))
          seqs(x) = seqs(x).replace(from, to)
          for (k <- wordPairs(seqs(x))) {
            addWeight(k, cnts(x))
            index.getOrElseUpdate(k,
              scala.collection.mutable.ArrayBuffer.empty) += x
          }
        }
        // the chosen pair's weight reaches exactly 0 through the per-word
        // deltas (a rewritten word never retains an (l, rt) adjacency —
        // leftmost non-overlapping replace consumes them all), so the
        // entry has already been purged; nothing to clean up here
        r += 1
      }
    }
    spark.createDataFrame(merges.toSeq)
      .select($"merge_rank", $"lhs", $"rhs", $"merged", $"weight")
  }

  /** Tokenizer APPLY at corpus scale: count BPE tokens per document
    * under a learned merge list. The model rides into the plan as
    * `merges.size` literal codegen string replaces inside a `transform`
    * lambda — zero shuffle, zero joins; the corpus is scanned once and
    * the per-word merge replay is whole-stage-codegen'd. Words outside
    * `[a-z0-9]+` are excluded, mirroring [[trainMerges]].
    *
    * Adds `n_words` (qualifying words) and `n_bpe_tokens` (symbols after
    * applying every merge in learned order).
    */
  def tokenizeCount(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val st = graft.functions.SketchExpressions.bpe_stats(
      coalesce(col(textCol), lit("")), merges)
    // two-step select: CollapseProject keeps the non-cheap kernel alias
    // single-evaluation (the q29 double-eval lesson)
    Par.spread(docs, col(textCol))
      .withColumn("__bpe", st)
      .withColumn("n_words", element_at(col("__bpe"), 1))
      .withColumn("n_bpe_tokens", element_at(col("__bpe"), 2))
      .drop("__bpe")
  }

  /** Segment a word with a learned merge list (greedy, in merge order) —
    * the tokenizer-apply side, used by tests to pin that training and
    * application agree on the string-replace semantics.
    */
  def segment(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val D2 = Delim + Delim
    var seq = word.toCharArray.map(c => Delim + c + Delim).mkString
    merges.foreach { case (l, rt) =>
      seq = seq.replace(Delim + l + Delim + Delim + rt + Delim,
        Delim + l + rt + Delim)
    }
    if (seq.isEmpty) Seq.empty
    else seq.stripPrefix(Delim).stripSuffix(Delim).split(D2).toSeq
  }
}
