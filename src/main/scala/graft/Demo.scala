package graft

import graft.multimodal.MediaPipeline
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Usage demo / manual smoke-drive of the non-batch surfaces the driver's
  * Verify harness can't reach: the Structured Streaming transforms
  * (fed from an in-memory stream, printed to console sink) and the
  * multimodal decode pipeline.
  *
  *   sbt "runMain graft.Demo [sfDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bootstrap.local(4)
    import spark.implicits._

    println("=== streaming: 1h tumbling counts with 10min watermark ===")
    val st = MemoryStream[Ev](spark)
    val q = EventStreams.tumblingCounts(st.toDF())
      .writeStream.format("console").outputMode(OutputMode.Append).start()
    def t(m: Int) = new Timestamp(72000000L + m * 60000L) // 20:00 UTC + m min
    st.addData(Seq(Ev(1, 1, "click", t(5), 1.0), Ev(2, 1, "view", t(20), 2.5)))
    q.processAllAvailable()
    st.addData(Seq(Ev(3, 1, "click", t(200), 1.0))) // advances watermark, finalizes 20:00 window
    q.processAllAvailable()
    q.stop()

    println("=== multimodal: decode pipeline over documents ===")
    MediaPipeline.pipeline(Tables.documents(spark, sfDir)).show(3, truncate = false)
    spark.stop()
  }
}
