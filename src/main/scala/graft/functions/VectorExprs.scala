package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ArrayType embedding columns, as Catalyst higher-order
  * functions (`zip_with`/`aggregate`) — codegen-adjacent, no UDF, no
  * serialization of the array to the JVM heap per row.
  *
  * All arithmetic is forced to DOUBLE up front: the source columns are
  * float32 and mixed-precision accumulation would both lose accuracy and
  * break parity with external engines.
  */
object VectorExprs {

  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Dot product — native codegen'd expression (graft.plans.VectorNative);
    * strictly sequential double accumulation, bit-identical to the
    * `aggregate(zip_with(...))` fold it replaces. */
  def dot(a: Column, b: Column): Column = graft.plans.VectorNative.dot(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(toDouble(a), lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity; 0.0 when either vector has zero norm. Native
    * codegen'd single-call expression. */
  def cosine(a: Column, b: Column): Column = graft.plans.VectorNative.cosine(a, b)

  /** ‖v‖ as the native fold: sqrt(dot(v, v)) — the exact sxx/syy pass
    * [[cosine]] runs internally, exposed so joins can hoist it per ROW. */
  def normNative(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from per-side precomputed norms: dot(a,b)/(na·nb) with
    * [[cosine]]'s zero-norm guard. Bit-identical to `cosine(a, b)` when
    * `na = normNative(a)` and `nb = normNative(b)` (same folds, same op
    * order) — but each side's norm is computed once per INPUT row instead
    * of once per joined PAIR, cutting a verify join's inner loop from
    * three array passes to one. The scale lever for every bucketed/celled
    * exact-verify join (LSH, SemDeDup, brute-force scans). */
  def cosineHoisted(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))

  /** Sign-bit bucket for random-hyperplane LSH: for each plane (a fixed
    * deterministic matrix), bit = dot(v, plane) >= 0; bits packed into a
    * LONG bucket id (max 64 planes — enforced). Native expression — the
    * plane matrix rides the generated code as data, so the signature width
    * can grow to the 32–64 bits production LSH uses without the
    * O(planes·dim) literal unroll that breaks the 64 KB codegen method
    * limit, and without the Int `1 << j` mod-32 wrap that would silently
    * alias planes ≥32 onto low bits. Bit-for-bit equal to the when-chain
    * form it replaces (PropertySpec differentials at 30 and 40 planes). */
  def hyperplaneBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    graft.plans.AnnNative.hyperplaneBucket(v, planes)

  /** Deterministic pseudo-random unit-ish hyperplanes (fixed seed — stable
    * across runs/partitions, required for LSH join correctness). */
  def deterministicPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }
}
