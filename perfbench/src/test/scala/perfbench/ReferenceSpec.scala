package perfbench

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

class ReferenceSpec extends AnyFunSuite {
  private def wkb(z: ZoneGeom): Array[Byte] = {
    val verts = for ((ring, ri) <- z.rings.zipWithIndex; ((x, y), i) <- ring.zipWithIndex)
      yield new GenericInternalRow(Array[Any](0, ri, i, x, y))
    graft.ext.Wkb.build(new GenericArrayData(verts.toArray[Any]))
  }

  test("the driver-side containment test agrees with point_in_wkb on generated zones") {
    ZoneGeom.generate(12, 512, 5).foreach { z =>
      val g = wkb(z)
      val es = ZonalCube.edges(z.rings)
      for (y <- z.ymin - 1 to z.ymax + 1; x <- z.xmin - 1 to z.xmax + 1)
        assert(ZonalCube.inside(x, y, es) == graft.ext.Wkb.pointIn(x, y, g), s"zone ${z.id} ($x, $y)")
    }
  }

  test("polygon references count only cells inside, holes excluded") {
    val r = new SeededRaster(512, 5)
    val zones = ZoneGeom.generate(12, 512, 5)
    val env = ZonalCube.envRefs(r, zones)
    val poly = ZonalCube.polyRefs(r, zones)
    assert(poly.size == zones.size)
    zones.foreach(z => assert(poly(z.id).count < env(z.id).count, s"zone ${z.id}"))
  }
}
