package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Sketch primitives for scalable near-duplicate detection and ANN:
  * MinHash signatures + LSH banding (Broder '97 / MMDS ch.3) and
  * random-hyperplane signatures for cosine LSH (Charikar '02).
  *
  * All sketches are built with native Column expressions (nested
  * higher-order functions) — per-row maps that run inside whole-stage
  * codegen, so sketching 100 TB is a pure scan; the only shuffle in a
  * dedup job is the groupBy on band keys, whose width we control.
  */
object Sketches {

  /** Mersenne prime 2^31-1 for the affine MinHash family. 31-bit
    * arithmetic keeps every intermediate below 2^62, so the expressions
    * are safe under Spark 4's default ANSI overflow checking. */
  private val P = 2147483647L

  /** Deterministic affine coefficients (seeded — results must be stable
    * across runs and engines). Public because the DuckDB oracles embed
    * the realized values as literals: java.util.Random isn't
    * reproducible in SQL, but its OUTPUT is just 2k constants. */
  def coeffs(k: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Seq.fill(k)(math.abs(rnd.nextLong()) % (P - 1) + 1)
    val bs = Seq.fill(k)(math.abs(rnd.nextLong()) % P)
    (as, bs)
  }

  /** k-element MinHash signature of a set of 64-bit element hashes.
    * Elements are first folded to 31 bits (pmod P), then each slot is
    * min over elements of ((a_i * h + b_i) mod P) — the classic
    * universal hash family; a_i*h+b_i < 2^62 never overflows. */
  def minhashSignature(elementHashes: Column, k: Int, seed: Long = 42L): Column = {
    val (as, bs) = coeffs(k, seed)
    // codegen expression: O(k·|set|) compiled loop (the equivalent
    // transform/aggregate HOF chain evaluates its lambdas interpreted)
    VectorExpressions.minhashSignature(elementHashes, as, bs)
  }

  /** LSH band keys of a MinHash signature: `bands` hashes, each over
    * `rowsPerBand` consecutive signature slots. Two sets with Jaccard s
    * share ≥1 band with prob 1-(1-s^r)^b — the s-curve that turns an
    * O(n²) similarity search into a groupBy. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
             xxhash64(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))).as("key")))

  /** Engine-portable LSH band keys: md5 of the comma-joined decimal
    * slot values — `md5(array_to_string(sig[b·r+1 : b·r+r], ','))`
    * rebuilds the identical key in DuckDB (xxhash64 of an array's
    * binary layout cannot leave Spark). 16 small md5 calls per row is
    * noise next to the signature itself. */
  def portableBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
             md5(concat_ws(",",
               transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)),
                 x => x.cast("string")))).as("key")))

  /** Exact Jaccard similarity of two pre-distinct element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** [[jaccard]] specialized to array<long> (shingle/gram hashes) — the
    * fused [[VectorExpressions.JaccardLongSize]]: value-identical, one
    * pass with primitive sets, no materialized intersect/union arrays.
    * Use on the hash-array verify joins; keep [[jaccard]] for string
    * arrays. */
  def jaccardLong(a: Column, b: Column): Column =
    VectorExpressions.jaccardLongSize(a, b)

  // ---- cosine / hyperplane LSH ---------------------------------------

  /** Dot product of two double arrays (custom codegen expression —
    * a single fused multiply-add loop in whole-stage codegen). */
  def dot(a: Column, b: Column): Column =
    VectorExpressions.dotProduct(a, b)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two numeric arrays — the FUSED codegen
    * expression ([[VectorExpressions.CosineSim]]): one compiled pass,
    * bit-identical to the dot/l2norm composition it replaces (same
    * accumulation order, same sqrt/mul/div), but long/float elements
    * widen in-register instead of through a per-evaluation interpreted
    * `transform` cast (which the 3-dot form re-evaluated 6× per row). */
  def cosine(a: Column, b: Column): Column =
    VectorExpressions.cosineSim(a, b)

  /** Cast a float array column to double for stable arithmetic. */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Deterministic pseudo-random hyperplanes: `nBits` vectors of `dim`
    * N(0,1) components. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of an embedding under the given hyperplanes:
    * bit_i = 1 iff <v, r_i> > 0. P[bit match] = 1 - angle/π, so close
    * vectors collide on whole bands. */
  def hyperplaneBits(vec: Column, planes: Seq[Seq[Double]]): Column =
    VectorExpressions.hyperplaneSignBits(vec, planes)

  /** Engine-portable band keys over a bit signature: the band's bits as
    * a literal '0'/'1' string — `substr(string_agg(bit), b·w+1, w)`
    * rebuilds it anywhere. A w-char key is as discriminative as a
    * w-bit one; the hyperplane bits themselves are portable because
    * both engines run the identical ordered multiply-add fold (the
    * same property x07's oracle already hash-proves for cosine). */
  def bitBandStringKeys(bits: Column, bands: Int, bitsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
             concat_ws("",
               transform(slice(bits, b * bitsPerBand + 1, lit(bitsPerBand)),
                 x => x.cast("string"))).as("key")))

  /** Engine-portable 60-bit SimHash (md5-prefix token hashes) — see
    * TextExpressions.SimHashPortable. Pair with
    * [[simhashPortableBandKeys]]. */
  def simhashPortable(tokens: Column): Column = TextExpressions.simHashPortable(tokens)

  /** Hamming distance between two 64-bit SimHashes (native bit_count). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit band keys of a 64-bit SimHash (pigeonhole: hamming ≤ 3 ⇒
    * at least one of the 4 bands is identical). */
  def simhashBandKeys(sim: Column): Column =
    array((0 until 4).map(b =>
      struct(lit(b).as("band"),
             shiftrightunsigned(sim, b * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)

  /** 15-bit band keys of a 60-bit portable SimHash (same pigeonhole
    * bound: hamming ≤ 3 over 4 bands ⇒ one band matches exactly). Plain
    * shift/mask integer arithmetic — the oracle reproduces it verbatim. */
  def simhashPortableBandKeys(sim: Column): Column =
    array((0 until 4).map(b =>
      struct(lit(b).as("band"),
             shiftrightunsigned(sim, b * 15).bitwiseAND(lit(0x7fffL)).as("key"))): _*)
}
