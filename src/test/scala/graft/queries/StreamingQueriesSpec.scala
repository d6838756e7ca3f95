package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The single-batch guard of the streaming lanes' memory-sink runner. */
class StreamingQueriesSpec extends SparkSpec with Matchers {
  import spark.implicits._

  test("requireSingleBatch fails a stream that drains in two data micro-batches") {
    val dir = Files.createTempDirectory("graft-stream-guard").toString
    Seq(0L, 1L, 2L).toDF("v").coalesce(1).write.mode("append").parquet(dir)
    Seq(3L, 4L, 5L).toDF("v").coalesce(1).write.mode("append").parquet(dir)
    val schema = StructType(Seq(StructField("v", LongType)))
    def run(name: String, filesPerTrigger: Option[Int]) =
      StreamingQueries.runToMemory(spark, name, "append", requireSingleBatch = true) { ss =>
        val r = ss.readStream.schema(schema)
        filesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).parquet(dir)
      }
    // both files in one micro-batch: the guard passes
    run("guard_one_batch", None).as[Long].collect().sorted shouldBe (0L to 5L).toArray
    // one file per micro-batch: two data batches, the guard fails
    val e = intercept[IllegalArgumentException](run("guard_two_batches", Some(1)))
    e.getMessage should include(
      "guard_two_batches: expected one data micro-batch under AvailableNow, saw 2")
  }
}
