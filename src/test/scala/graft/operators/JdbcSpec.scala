package graft.operators

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

/** Exercises the S6/S7 JDBC storage path (PointCloud.writeJdbc) against
  * embedded Apache Derby — the one JDBC engine shipped with Spark, so
  * the partition-parallel writer, table creation, type mapping and the
  * pg-COPY `{...}` array rendering all run for real. The native
  * PostgreSQL array mapping (arraysAsText = false) shares everything
  * but the three-column projection and still needs a live PostgreSQL;
  * see the reference schema at db/__init__.py:41-58. */
class JdbcSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("writeJdbc stores pc_record/pc_metadata tables an independent client can read back") {
    import spark.implicits._
    val url = s"jdbc:derby:${tmp("pcdb")};create=true"

    val pts = (0 until 2000).map { i =>
      ((i % 50).toDouble, (i / 50).toDouble, (i % 7).toDouble)
    }
    val cloud = PointCloud.importPoints(
      pts.toDF("x", "y", "z"), ImportSpec(name = "derby_e2e"))
    PointCloud.writeJdbc(cloud, url, new Properties(), arraysAsText = true)

    // read back OUTSIDE Spark: plain JDBC, like any external consumer
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      val meta = st.executeQuery(
        """SELECT "name", "pointCount", "headLen", "tailLen" FROM pc_metadata_derby_e2e""")
      assert(meta.next())
      assert(meta.getString(1) == "derby_e2e")
      assert(meta.getLong(2) == 2000L)
      val headLen = meta.getInt(3)
      assert(headLen > 0 && meta.getInt(4) > 0)
      assert(!meta.next(), "exactly one catalog row")

      // every block row: parseable pg-COPY arrays, parallel lengths,
      // and the exploded points reproduce the original cloud exactly
      val rs = st.executeQuery("""SELECT "sfc_head", "sfc_tail", "z" FROM pc_record_derby_e2e""")
      var blocks = 0
      var points = List.empty[(Long, Double)]
      while (rs.next()) {
        blocks += 1
        val head = rs.getLong(1)
        val tails = rs.getString(2).stripPrefix("{").stripSuffix("}") match {
          case "" => Array.empty[Long]
          case s => s.split(",").map(_.toLong)
        }
        val zs = rs.getString(3).stripPrefix("{").stripSuffix("}") match {
          case "" => Array.empty[Double]
          case s => s.split(",").map(_.toDouble)
        }
        assert(tails.length == zs.length, "parallel arrays must align")
        points :::= tails.zip(zs).map { case (t, z) => (head, z) }.toList
        // tails sorted within a block (the clustered layout invariant)
        assert(tails.sameElements(tails.sorted))
      }
      assert(blocks > 1, "expect multiple morton blocks")
      assert(points.size == 2000)
    } finally conn.close()

    // appending again (a second import batch) must not clobber
    PointCloud.writeJdbc(cloud, url, new Properties(), arraysAsText = true)
    val conn2 = DriverManager.getConnection(url)
    try {
      val rs = conn2.createStatement()
        .executeQuery("""SELECT count(*) FROM pc_metadata_derby_e2e""")
      rs.next()
      assert(rs.getInt(1) == 2, "append mode accumulates catalog rows")
    } finally conn2.close()
  }

  // Derby holds the database open until it is shut down; a shutdown
  // reports itself as an SQLException
  override def afterAll(): Unit =
    try intercept[java.sql.SQLException](DriverManager.getConnection(
      s"jdbc:derby:${tmp("pcdb")};shutdown=true"))
    finally super.afterAll()
}
