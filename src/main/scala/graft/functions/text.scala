package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import graft.functions.SketchExpressions._

/** SQL registration for the text/sketch kernel surface — the corpus
  * counterpart of [[geo.register]]: after `text.register(spark)`, every
  * per-document kernel the DataFrame operators use is callable from
  * `spark.sql` (`SELECT simhash64(text), term_counts(text) ...`), so a
  * SQL-only consumer gets the same codegen path (no UDF wrapping, no
  * serialization) the fluent API gets. Each name is its Column wrapper
  * in [[SketchExpressions]], arguments in the same order.
  */
object text {

  def register(spark: SparkSession): Unit = {
    import GraftBridge.{column => col, expression => ex}
    val reg = spark.sessionState.functionRegistry
    def one(name: String, b: Seq[Column] => Column): Unit =
      reg.createOrReplaceTempFunction(name, es => ex(b(es.map(col))), "built-in")
    def intArg(cs: Seq[Column], i: Int): Int =
      ex(cs(i)).eval().asInstanceOf[Number].intValue

    one("norm_text", c => norm_text(c.head))
    one("term_counts", c => term_counts(c.head))
    one("bigram_counts", c => bigram_counts(c.head))
    one("topgram_stats", c => topgram_stats(c.head))
    one("rep_stats", c => rep_stats(c.head))
    one("char_entropy", c => char_entropy(c.head))
    one("nfc_normalize", c => nfc_normalize(c.head))
    one("pii_redact", c => pii_redact(c.head))
    one("simhash64", c => simhash64(c.head))
    one("sorted_pairs", c => sorted_pairs(c.head))
    one("word_shingles", c => word_shingles(c.head, intArg(c, 1)))
    one("gram_hash_seq", c => gram_hash_seq(c.head, intArg(c, 1)))
    one("char_ngrams", c => char_ngrams(c.head, intArg(c, 1)))
    one("char_ngram_codes", c => char_ngram_codes(c.head, intArg(c, 1)))
    one("token_blocks", c => token_blocks(c.head, intArg(c, 1)))
    one("window_digests", c => window_digests(c.head, intArg(c, 1)))
    one("lsh_signature", c => lsh_sig(c.head, intArg(c, 1)))
    one("rand_project", c => rand_project(c.head, intArg(c, 1)))
    one("token_hash_counts", c => token_hash_counts(c.head, intArg(c, 1)))
    one("minhash_signature", c =>
      minhash_sig(c.head, intArg(c, 1), intArg(c, 2)))
    one("jaccard_sim", c => jaccard_sim(c(0), c(1), intArg(c, 2)))
    one("span_stats", c => span_stats(c(0), intArg(c, 1), c(2)))
    one("scrub_spans", c => scrub_spans(c(0), c(1), intArg(c, 2)))
    one("winnow", c => winnow(c.head, intArg(c, 1), intArg(c, 2)))
    one("md5_minhash_sigs", c => md5_minhash_sigs(c.head, intArg(c, 1)))
    one("array_match_count", c => array_match_count(c(0), c(1)))
    one("sorted_intersect_count", c => sorted_intersect_count(c(0), c(1)))
    one("lsh_probes", c => lsh_probes(c(0), intArg(c, 1)))
  }
}
