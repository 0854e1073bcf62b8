package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, explode, lit}

/** Sequential BPE training in plain Scala — the reference the engine's
  * batched trainer (`llm.TextOps.bpeTrainInt`) is tested against.
  *
  * It runs over the collected (word, count) table of a (doc_id, text)
  * frame: each round takes ONE argmax pair in the order (count DESC,
  * left ASC, right ASC), with symbols compared as real strings in
  * Spark's byte order, and replaces its occurrences non-overlapping
  * left to right (`replace`'s semantics). A round that would mint a
  * string an earlier round already minted fails, as the engine does. */
object BpeReference {

  private def cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The merge table of a (doc_id, text) frame, tokenized as the
    * engine tokenizes it, in q251's row shape: (round, left_sym,
    * right_sym, merged, pair_count, corpus_syms). Throws if the corpus
    * runs out of adjacent pairs before k rounds. */
  def train(docs: DataFrame, k: Int): Seq[(Int, String, String, String, Long, Long)] = {
    var table = docs.select(explode(llm.TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .collect().toVector.map { r =>
        (r.getString(0).codePoints().toArray.toVector
          .map(cp => new String(Character.toChars(cp))), r.getLong(1))
      }
    val minted = scala.collection.mutable.Set.empty[String]
    (1 to k).map { t =>
      val census = table
        .flatMap { case (syms, wc) => syms.zip(syms.drop(1)).map(_ -> wc) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (census.isEmpty)
        throw new IllegalStateException(
          s"BPE training exhausted the corpus at round $t of $k")
      val ((l, r), cnt) = census.toSeq.sortWith { case (((l1, r1), c1), ((l2, r2), c2)) =>
        if (c1 != c2) c1 > c2
        else if (l1 != l2) cmp(l1, l2) < 0
        else cmp(r1, r2) < 0
      }.head
      val m = l + r
      require(minted.add(m), s"BPE degenerate merge at round $t: '$m' was already minted")
      table = table.map { case (syms, wc) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += m; i += 2
          } else {
            out += syms(i); i += 1
          }
        }
        (out.result(), wc)
      }
      (t, l, r, m, cnt, table.map { case (syms, wc) => wc * syms.length }.sum)
    }
  }
}
