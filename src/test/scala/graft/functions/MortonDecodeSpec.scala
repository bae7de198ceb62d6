package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Morton

class MortonDecodeSpec extends AnyFunSuite {

  test("MortonDecode gives the same result interpreted and under codegen, 2D and 3D") {
    val rng = new scala.util.Random(5)
    val m = BoundReference(0, LongType, nullable = false)
    Seq(2, 3).foreach { d =>
      val exprs = (0 until d).map(MortonDecode(m, d, _))
      val proj = GenerateUnsafeProjection.generate(exprs)
      (1 to 2000).foreach { _ =>
        val key = rng.nextLong() & ((1L << (d * Morton.bitsPerDim(d))) - 1)
        val row = InternalRow(key)
        val cg = proj(row)
        exprs.indices.foreach { k =>
          assert(cg.getLong(k) == exprs(k).eval(row), s"d=$d dim=$k key=$key")
          assert(cg.getLong(k) == Morton.decode(key, d, k), s"d=$d dim=$k key=$key")
        }
      }
    }
  }
}
