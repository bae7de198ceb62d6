package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Morton
import graft.sources.TempDir

class GraftExtensionsSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions) // applies when this JVM has no session yet
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s) // idempotent; covers the shared-session case
    s
  }

  test("graft_* functions are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_morton_encode(5L, 9L) AS m,
          graft_morton_x(graft_morton_encode(5L, 9L)) AS x,
          graft_simhash64(array(-1L, -1L, -1L)) AS sh,
          graft_vector_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS dot,
          size(graft_minhash_signature(array(1L, 2L, 3L), 8)) AS siglen,
          size(graft_lsh_band_keys(graft_minhash_signature(array(1L), 8), 4)) AS bands
      """).head()
    assert(r.getLong(0) == Morton.encode(5L, 9L))
    assert(r.getLong(1) == 5L)
    assert(r.getLong(2) == -1L)
    assert(r.getDouble(3) == 11.0)
    assert(r.getInt(4) == 8 && r.getInt(5) == 4)
  }

  test("text/shingle kernels are callable from SQL") {
    val r = spark.sql(
      """SELECT size(graft_shingle_hashes('a b c d', 2, true)) AS nsh,
          graft_sorted_intersect_size(
            graft_shingle_hashes('a b c d', 2, true),
            graft_shingle_hashes('a b c x', 2, true)) AS inter,
          size(graft_word_hashes('a b c')) AS nw,
          element_at(graft_word_hashes('a b'), 1) = xxhash64('a') AS wh_ok
      """).head()
    assert(r.getInt(0) == 3)  // 'a b', 'b c', 'c d'
    assert(r.getInt(1) == 2)  // shares 'a b', 'b c'
    assert(r.getInt(2) == 3)
    assert(r.getBoolean(3))
  }

  test("fold/edit kernels are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_fold_accents('café') AS folded,
          size(graft_edit_segment_keys('abcdef', 2)) AS nseg,
          size(graft_edit_probe_keys('abcdef', 2)) > 3 AS probes,
          element_at(graft_edit_segment_keys('abcdef', 2), 1) IN
            (SELECT explode(graft_edit_probe_keys('abcdef', 2))) AS selfmatch
      """).head()
    assert(r.getString(0) == "cafe")
    assert(r.getInt(1) == 3)
    assert(r.getBoolean(2))
    assert(r.getBoolean(3)) // a string's own segment is among its probes
  }

  test("graft_head_in_bbox selects intersecting cells; rule rewrites to a pushed cover") {
    import spark.implicits._
    // 8-bit key space, 4 tail bits: 16 heads, each a 4x4 cell of a 16x16 grid
    (0L until 16L).toDF("sfc_head").createOrReplaceTempView("heads_t")
    val (x0, x1, y0, y1) = (3L, 6L, 2L, 5L)
    val sql = s"SELECT sfc_head FROM heads_t WHERE " +
      s"graft_head_in_bbox(sfc_head, $x0, $x1, $y0, $y1, 8, 4)"
    val got = spark.sql(sql).collect().map(_.getLong(0)).toSet
    val exp = (0L until 16L).filter { h =>
      val (lo, hi) = (h << 4, (h << 4) | 15L)
      !(Morton.decodeX(hi) < x0 || Morton.decodeX(lo) > x1 ||
        Morton.decodeY(hi) < y0 || Morton.decodeY(lo) > y1)
    }.toSet
    assert(got == exp && got.nonEmpty && got.size < 16)
    // rewrite fired: over a FILE source (a local relation constant-folds
    // the whole filter away — itself proof the marker evaluates), the
    // plan carries the range cover INSIDE PushedFilters plus the pruned
    // residual marker
    val dir = tmp("heads")
    (0L until 16L).toDF("sfc_head").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("heads_f")
    val fileDf = spark.sql(sql.replace("heads_t", "heads_f"))
    assert(fileDf.collect().map(_.getLong(0)).toSet == exp)
    val phys = fileDf.queryExecution.executedPlan.toString
    assert(phys.contains("head_in_bbox"), phys)
    assert(phys.contains("PushedFilters: [") &&
      phys.contains("GreaterThanOrEqual(sfc_head"), phys)
    // an all-outside bbox folds to an empty plan, not a scan
    val none = spark.sql(s"SELECT sfc_head FROM heads_t WHERE " +
      s"graft_head_in_bbox(sfc_head, 100, 200, 100, 200, 8, 4)")
    assert(none.collect().isEmpty)
  }
}
