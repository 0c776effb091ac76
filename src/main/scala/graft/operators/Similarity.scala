package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity building blocks over embedding columns
  * (`array<float>`): deterministic random-hyperplane LSH bucketing plus
  * double-precision casting helpers shared by the ANN query pack.
  *
  * Reference semantics: PrestoDB exposes `cosine_similarity`
  * (`presto-main/.../scalar/MathFunctions.java`) and array math; the
  * bucketed composition is standard SimHash/random-projection LSH
  * (Charikar '02), the same family the reference's users run for ANN.
  *
  * Scale design: bucketing is per-row map work over the embedding array —
  * all built-in higher-order functions, fully inside whole-stage codegen,
  * no UDFs. Candidate generation downstream is an equi-join on the bucket
  * id, so shuffle volume grows linearly with corpus size (never an
  * all-pairs crossJoin). More planes → smaller buckets → higher precision,
  * lower recall; multiple plane-tables recover recall.
  *
  * Determinism: plane weights derive from md5("p_i") rather than an RNG so
  * the DuckDB differential oracle replays the identical planes
  * (`(('0x'||substr(md5(p||'_'||i),1,15))::BIGINT % 2001 - 1000)/1000.0`)
  * and both engines must produce the same buckets — recall loss cannot
  * hide from the correctness gate. A production deployment would swap in a
  * seeded Gaussian matrix; the plan shape is identical.
  */
object Similarity {

  /** Bucket-width knob derived from corpus size: the smallest plane count
    * with expected bucket occupancy `n / 2^planes <= targetBucketSize`,
    * i.e. `ceil(log2(n / target))`, floored at 1.
    *
    * Fixed plane counts are the #1 scale hazard in LSH blocking: the
    * scale probe (SURVEY §2.4) measured ~100x candidate-pair growth at
    * 10x corpus when bits stay constant, because occupancy doubles with
    * every corpus doubling and pair work grows with occupancy². Deriving
    * planes from n keeps occupancy — and so per-bucket pair work — flat,
    * the same plan-parameter-from-statistics discipline the reference
    * applies to join distribution (`DetermineJoinDistributionType.java`).
    *
    * Integer loop, not floating log2: `ceil(ln(x)/ln 2)` misrounds at
    * exact powers of two in IEEE doubles, and a one-plane disagreement
    * with the oracle's replay would silently change every bucket. The
    * oracle computes the identical value as
    * `GREATEST(1, CEIL(LOG2(CEIL(n / CAST(target AS DOUBLE)))))` —
    * equal because `ceil(log2(ceil(x))) = ceil(log2(x))` for x > 1 (an
    * integer ceiling never crosses the next power of two), and libm log2
    * is exact on integer powers of two. */
  def planesFor(n: Long, targetBucketSize: Long): Int = {
    var p = 0
    var cap = targetBucketSize
    while (cap < n) { cap <<= 1; p += 1 }
    math.max(1, p)
  }

  /** Deterministic pseudo-random weight in [-1, 1] for plane `p`, dim `i`,
    * bit-reproducible in DuckDB SQL (see object doc). */
  def planeWeight(p: Int, i: Int): Double = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"${p}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
  }

  /** Cast a float array column to double elementwise — all similarity math
    * must run in doubles so Spark and the oracle agree bit-for-bit. */
  def toDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Per-plane signed projections for planes [0, nPlanes): one posexplode
    * + a codegen'd hash-aggregate producing (idCol, d0..d{n-1}).
    *
    * Spark's higher-order functions are CodegenFallback (interpreted with
    * per-element boxing), so a per-plane `aggregate(zip_with(...))` over
    * the corpus scan is the slow shape; explode → literal-weight lookup →
    * `sum` aggregates stays in whole-stage codegen and partial-aggregates
    * map-side. Summation order is engine-dependent, but the bucket only
    * consumes the SIGN of each dot — random projections sit far from 0
    * relative to fp noise, so Spark and the oracle agree. */
  def planeDots(emb: DataFrame, idCol: String, embCol: String,
                nPlanes: Int, dims: Int): DataFrame = {
    val el = emb.select(col(idCol), posexplode(col(embCol)).as(Seq("i", "x")))
    val dots = (0 until nPlanes).map { p =>
      val w = array((0 until dims).map(i => lit(planeWeight(p, i))): _*)
      sum(col("x") * element_at(w, col("i") + 1)).as(s"d$p")
    }
    el.groupBy(col(idCol)).agg(dots.head, dots.tail: _*)
  }

  /** Packs sign bits of d{pFrom}..d{pFrom+planes-1} into a bucket id. */
  private def bucketCol(pFrom: Int, planes: Int): Column =
    (0 until planes).map(j =>
      when(col(s"d${pFrom + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Single-table LSH bucketing: (idCol, bucket), 2^planes buckets. */
  def buckets(emb: DataFrame, idCol: String, embCol: String,
              planes: Int, dims: Int): DataFrame =
    planeDots(emb, idCol, embCol, planes, dims)
      .select(col(idCol), bucketCol(0, planes).as("bucket"))

  /** Multi-table bucketing: (idCol, t, bv) — `tables` independent bucket
    * ids of `planesPerTable` bits each.
    * Recall at angle θ: 1 - (1 - (1-θ/π)^planesPerTable)^tables. */
  def bucketTables(emb: DataFrame, idCol: String, embCol: String,
                   tables: Int, planesPerTable: Int, dims: Int): DataFrame =
    planeDots(emb, idCol, embCol, tables * planesPerTable, dims)
      .select(col(idCol),
        posexplode(array((0 until tables).map(t =>
          bucketCol(t * planesPerTable, planesPerTable)): _*))
          .as(Seq("t", "bv")))
}
