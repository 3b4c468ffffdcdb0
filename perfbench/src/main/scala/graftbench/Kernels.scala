package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextNGrams, VectorFunctions}
import graft.sources.Tables

/** Microbench of the `functions` layer: each codegen kernel's public
  * column function against the built-in expression it replaces, over the
  * same cached sf0.1 frame. Both forms must give equal values. */
object Kernels {

  final case class Result(kernel: String, rows: Long, kernelS: Double,
                          builtinS: Double, mismatches: Long)

  private val Reps = 3
  // documents and embeddings are small at sf0.1 (5,000 and 2,000 rows), so
  // the frames repeat them until one evaluation is long enough to time
  private val DocCopies = 2
  private val VecShifts = 40
  // RoundedVecDot does a BigDecimal rounding per element, ~50x the work
  // of FloatVecDot, so it runs over a slice of the pairs
  private val RoundedShifts = 5

  private def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  // value of `v` folded to a number, so the projection is not pruned away
  private def consume(v: Column, array: Boolean): Column =
    if (array) sum(size(v)) else sum(v)

  private def timeOnce(df: DataFrame, v: Column, array: Boolean): Double = {
    val t0 = System.nanoTime()
    df.select(consume(v, array)).collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, dir: String): Seq[Result] = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("copy", explode(sequence(lit(1), lit(DocCopies))))
      .cache()
    val sets = docs.select(col("doc_id"), col("copy"),
      array_sort(array_distinct(toks(col("text")))).as("s"))
    val setPairs = sets.as("a").join(sets.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1 && col("b.copy") === col("a.copy"))
      .select(col("a.s").as("l"), col("b.s").as("r"))
      .cache()
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val n = emb.count()
    def vecPairs(shifts: Int) = emb.as("a")
      .withColumn("shift", explode(sequence(lit(1), lit(shifts))))
      .join(emb.as("b"), col("b.vec_id") === (col("a.vec_id") + col("shift")) % n)
      .select(col("a.embedding").as("l"), col("b.embedding").as("r"))
      .cache()
    val (floatPairs, roundedPairs) = (vecPairs(VecShifts), vecPairs(RoundedShifts))
    val frames = Seq(docs, setPairs, floatPairs, roundedPairs)
    frames.foreach(_.count())

    val text = col("text")
    val (l, r) = (col("l"), col("r"))
    // binds `v` once per row; a column referenced inside a lambda would be
    // evaluated again for every element
    def let(v: Column)(f: Column => Column): Column = element_at(transform(array(v), f), 1)
    val hashBuckets = 64
    val ngram = 3
    val cases: Seq[(String, DataFrame, Column, Column, Boolean)] = Seq(
      ("TokenList", docs, TextNGrams.mkTokenList(text), toks(text), true),
      ("TokenCount", docs, TextNGrams.mkTokenCount(text), size(toks(text)), false),
      ("WordNGramSet", docs, TextNGrams.mkWordNGramSet(text, ngram),
        let(toks(text))(tk => when(size(tk) < ngram, array().cast("array<string>")).otherwise(
          array_sort(array_distinct(transform(sequence(lit(0), size(tk) - ngram),
            i => concat_ws(" ", slice(tk, i + 1, lit(ngram)))))))), true),
      ("TokenHashBuckets", docs, TextNGrams.mkTokenHashBuckets(text, hashBuckets),
        let(transform(toks(text), t =>
            conv(substring(md5(t), 1, 15), 16, 10).cast("bigint") % hashBuckets))(hs =>
          transform(array_sort(array_distinct(hs)), b =>
            struct(b.as("b"), size(filter(hs, h => h === b)).cast("bigint").as("cnt")))),
        true),
      ("FloatVecDot", floatPairs, VectorFunctions.vecDot(l, r),
        aggregate(zip_with(l, r, (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, v) => acc + v), false),
      ("SortedIntersectCount", setPairs, VectorFunctions.sortedIntersectCount(l, r),
        size(array_intersect(l, r)), false),
      ("RoundedVecDot", roundedPairs, VectorFunctions.roundedVecDot(l, r, 12),
        aggregate(zip_with(l, r, (a, b) =>
            round(a.cast("double") * b.cast("double"), 12).cast("decimal(18,12)")),
          lit(0).cast("decimal(30,12)"), (acc, v) => (acc + coalesce(v, lit(0))).cast("decimal(30,12)"))
          .cast("double"), false))

    val out = cases.map { case (name, df, kernel, builtin, array) =>
      val rows = df.count()
      val mismatches = df.where(!(kernel <=> builtin)).count()
      // alternate the two forms so drift in the machine hits both alike
      val ts = (1 to Reps).map(_ => (timeOnce(df, kernel, array), timeOnce(df, builtin, array)))
      val r = Result(name, rows, median(ts.map(_._1)), median(ts.map(_._2)), mismatches)
      System.err.println(s"[perfbench] kernel $r")
      r
    }
    frames.foreach(_.unpersist(blocking = true))
    out
  }
}
