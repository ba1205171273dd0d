package graft

import graft.sources.DetectorLog
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** S5/O8: the typed detector-log bag must carry the SURVEY §1.2 schema
  * ArrayType(StructType(name, value_s, value_i, value_d, unit, type)),
  * apply the reference's name→type mapping, and fall back to String for
  * unknown parameter names (mqtt.h:260-342). */
class DetectorLogSpec extends AnyFunSuite with LocalSpark {

  test("mapping covers the reference's 58 parameters") {
    assert(DetectorLog.typeMapping.size == 58)
    assert(DetectorLog.typeMapping.count(_._2 == "string") == 8)
    assert(DetectorLog.typeMapping.count(_._2 == "int") == 6)
    assert(DetectorLog.typeMapping.count(_._2 == "double") == 44)
  }

  test("typed bag schema, tagged-union fields, and string fallback") {
    import spark.implicits._
    val items = Seq(
      (1L, 0L, "temperature", "21.50"),
      (1L, 0L, "gainSwitch", "3"),
      (1L, 0L, "customTag", "x42"), // NOT in the mapping -> string
      (1L, 0L, "geoHash", "u0yjjd"))
      .toDF("station", "hour", "name", "value_str")
    val bags = DetectorLog.assemble(DetectorLog.typed(items))
    val st = bags.schema("items").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(st.fieldNames.toSeq ==
      Seq("name", "value_s", "value_i", "value_d", "unit", "type"))

    val flat = DetectorLog.explodeItems(bags).collect()
      .map(r => r.getAs[String]("name") -> r).toMap
    assert(flat.size == 4 && flat.values.head.getAs[Long]("n_items") == 4)
    assert(flat("temperature").getAs[String]("type") == "double")
    assert(flat("temperature").getAs[Double]("value_d") == 21.5)
    assert(flat("temperature").getAs[String]("unit") == "C")
    assert(flat("temperature").isNullAt(flat("temperature").fieldIndex("value_s")))
    assert(flat("gainSwitch").getAs[String]("type") == "int")
    assert(flat("gainSwitch").getAs[Int]("value_i") == 3)
    assert(flat("customTag").getAs[String]("type") == "string")
    assert(flat("customTag").getAs[String]("value_s") == "x42")
    assert(flat("geoHash").getAs[String]("value_s") == "u0yjjd")
  }
}
