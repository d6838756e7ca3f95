package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.sources.fixedwidth.FixedWidthOptions

/** The `fields` layout's type tokens: each supported token resolves to its
  * Catalyst type, and each rejected token or entry fails at option parse
  * with the message pinned here, the same through `spark.read`. */
class FieldTypeTokenSpec extends SparkSpec with Matchers {

  private def parse(spec: String) = FixedWidthOptions.parseFields(Some(spec))

  private def rejected(spec: String): String =
    intercept[IllegalArgumentException](parse(spec)).getMessage

  test("supported tokens resolve to their Catalyst types, case-insensitively") {
    parse("a:string:0:1,b:int:1:1,c:long:2:1,d:double:3:1,e:date:4:1," +
      "f:timestamp:5:1,g:decimal(15,2):6:1,h:DECIMAL(38,38):7:1,i:Long:8:1")
      .map(f => f.name -> f.dataType) shouldBe Seq(
        "a" -> StringType, "b" -> IntegerType, "c" -> LongType, "d" -> DoubleType,
        "e" -> DateType, "f" -> TimestampType, "g" -> DecimalType(15, 2),
        "h" -> DecimalType(38, 38), "i" -> LongType)
  }

  test("an unsupported token names itself, its field and the supported set") {
    rejected("x:float:0:4") shouldBe
      "fixedwidth: unsupported field type 'float' for field 'x' " +
        "(supported: string,int,long,double,date,timestamp,decimal(p,s))"
  }

  test("decimal precision and scale out of range are refused with the bounds") {
    rejected("x:decimal(0,0):0:4") shouldBe
      "fixedwidth: bad decimal(0,0) for field 'x' (need 1<=p<=38, 0<=s<=p)"
    rejected("x:decimal(39,2):0:4") shouldBe
      "fixedwidth: bad decimal(39,2) for field 'x' (need 1<=p<=38, 0<=s<=p)"
    rejected("x:decimal(5,6):0:4") shouldBe
      "fixedwidth: bad decimal(5,6) for field 'x' (need 1<=p<=38, 0<=s<=p)"
  }

  test("an entry without four parts is refused as malformed") {
    rejected("x:int:0") shouldBe
      "fixedwidth: bad 'fields' entry 'x:int:0' (expected name:type:start:len)"
  }

  test("the read surface reports the same message") {
    val dir = Files.createTempDirectory("graft-type-token").toString
    val e = intercept[IllegalArgumentException] {
      spark.read.format("fixedwidth").option("fields", "x:float:0:4").load(dir).collect()
    }
    e.getMessage shouldBe rejected("x:float:0:4")
  }
}
