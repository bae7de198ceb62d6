package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SparkSessionExtensions hook: registers the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT
  * graft_morton_encode(x, y) ...")` works anywhere DataFrame code does.
  *
  * Enable with:
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def fns: Seq[(String, String, FunctionBuilder)] = Seq(
    ("graft_morton_encode",
      "_FUNC_(x, y) - interleave two non-negative longs into a 2D Morton key",
      (args: Seq[Expression]) => MortonEncode2D(args(0), args(1))),
    ("graft_morton_x",
      "_FUNC_(m) - even-bit (x) component of a Morton key",
      (args: Seq[Expression]) => MortonDecode(args(0), 2, 0)),
    ("graft_morton_y",
      "_FUNC_(m) - odd-bit (y) component of a Morton key",
      (args: Seq[Expression]) => MortonDecode(args(0), 2, 1)),
    ("graft_minhash_signature",
      "_FUNC_(hashed_shingles, k) - k-element minhash signature of a long array",
      (args: Seq[Expression]) =>
        MinHashSignature(args(0), intArg(args(1), "numHashes"))),
    ("graft_simhash64",
      "_FUNC_(hashed_tokens) - 64-bit simhash of a long array",
      (args: Seq[Expression]) => SimHash64(args(0))),
    ("graft_lsh_band_keys",
      "_FUNC_(sig, bands) - LSH band keys of a minhash signature",
      (args: Seq[Expression]) => LshBandKeys(args(0), intArg(args(1), "bands"))),
    ("graft_vector_dot",
      "_FUNC_(a, b) - sequential-fold double dot product of float vectors",
      (args: Seq[Expression]) => VectorDot(args(0), args(1))),
    ("graft_vector_norm",
      "_FUNC_(a) - L2 norm of a float vector",
      (args: Seq[Expression]) => VectorNorm(args(0))),
    ("graft_rhp_bucket",
      "_FUNC_(a, nbits) - random-hyperplane LSH bucket of a float vector",
      (args: Seq[Expression]) => RhpBucket(args(0), intArg(args(1), "nBits"))),
    ("graft_shingle_hashes",
      "_FUNC_(norm_text, n, word) - sorted distinct 64-bit shingle hashes" +
        " (word=true: word n-grams; false: char n-grams)",
      (args: Seq[Expression]) => ShingleHashes(args(0), intArg(args(1), "n"),
        args(2) match {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"word must be a boolean literal, got $other")
        })),
    ("graft_sorted_intersect_size",
      "_FUNC_(a, b) - intersection size of two SORTED long arrays (merge pass)",
      (args: Seq[Expression]) => SortedIntersectSize(args(0), args(1))),
    ("graft_word_hashes",
      "_FUNC_(norm_text) - xxhash64 of each whitespace token",
      (args: Seq[Expression]) => WordHashes(args(0))),
    ("graft_fold_accents",
      "_FUNC_(text) - NFD-decompose and drop combining marks (accent fold)",
      (args: Seq[Expression]) => FoldAccents(args(0))),
    ("graft_edit_segment_keys",
      "_FUNC_(s, tau) - PassJoin index-side segment keys (tau+1 longs)",
      (args: Seq[Expression]) =>
        EditSegmentKeys(args(0), intArg(args(1), "tau"))),
    ("graft_edit_probe_keys",
      "_FUNC_(s, tau) - PassJoin probe-side multi-match-aware keys",
      (args: Seq[Expression]) =>
        EditProbeKeys(args(0), intArg(args(1), "tau"))),
    ("graft_head_in_bbox",
      "_FUNC_(head, xq_min, xq_max, yq_min, yq_max, total_bits, tail_bits) - " +
        "true iff the block head's quadtree cell intersects the quantized bbox; " +
        "the injected optimizer rule rewrites it into a range predicate whose " +
        "cover the injected planner strategy pushes to the scan, AND the exact residual",
      (args: Seq[Expression]) => graft.plans.HeadInBbox(args(0),
        longArg(args(1), "xq_min"), longArg(args(2), "xq_max"),
        longArg(args(3), "yq_min"), longArg(args(4), "yq_max"),
        intArg(args(5), "total_bits"), intArg(args(6), "tail_bits"))))

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    fns.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RewriteHeadBboxFilter)
    ext.injectPlannerStrategy(_ => graft.plans.PushedRangeScan)
    ext.injectPlannerStrategy(_ => graft.plans.PreparedSelectionScan)
  }
}

object GraftExtensions {
  /** Register the graft_* SQL functions, the pruning rewrite, the
    * cover-pushing scan strategy AND the prepared-selection strategy on
    * an already-running session (the builder-time extension hook only
    * applies to new sessions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new GraftExtensions
    ext.fns.foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), ext.info(name, usage), builder)
    }
    if (!spark.experimental.extraOptimizations.contains(
        graft.plans.RewriteHeadBboxFilter))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteHeadBboxFilter
    graft.plans.PushedRangeScan.register(spark)
    graft.plans.PreparedSelectionScan.register(spark)
  }
}
