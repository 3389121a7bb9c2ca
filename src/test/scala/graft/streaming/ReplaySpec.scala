package graft.streaming

import graft.{SourceScan, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

class ReplaySpec extends SparkSpec {
  import spark.implicits._

  test("a replay whose query throws while draining is stopped and its " +
      "staging dir is deleted") {
    val df = (1L to 8L).toDF("x")
    val boom = udf((x: Long) => {
      if (x > 0L) throw new IllegalStateException("boom"); x
    })
    var staged: String = null
    val err = intercept[StreamingQueryException] {
      Replay.replayStaged(spark, df.schema, "replay_fail") { dir =>
        staged = dir
        Replay.stageFiles(df, dir)
      } { sdf =>
        Replay.toMemory(sdf.select(boom($"x").as("x")), "replay_fail")
      }
    }
    assert(err.getMessage.contains("boom"))
    assert(staged != null)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(staged)),
      s"staging dir $staged survived the failed replay")
    assert(!spark.streams.active.exists(q =>
      Option(q.name).exists(_.startsWith("replay_fail"))))
  }

  test("a replay stages N files and the source reads them as N " +
      "micro-batches; the staging dir is deleted after") {
    val df = (1L to 40L).toDF("x")
    var staged: String = null
    val rows = Replay.replayStaged(spark, df.schema, "replay_ok") { dir =>
      staged = dir
      Replay.stageFiles(df, dir, files = 4)
    } { sdf =>
      Replay.lastFrame(spark, "no batches") { keep =>
        Replay.drain(sdf.groupBy().agg(count(lit(1)).as("n"))
          .writeStream.outputMode("complete")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            keep(b.withColumn("batch", lit(id)))
          }.start())
      }.as[(Long, Long)].collect().toSeq
    }
    // the final Complete-mode batch saw every row, on batch id 3 of 0..3
    assert(rows == Seq((40L, 3L)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(staged)))
  }

  test("only streaming/Replay.scala calls processAllAvailable under src/main") {
    val callers = SourceScan.mainFilesMatching(raw"\bprocessAllAvailable\b".r)
    assert(callers == Set("graft/streaming/Replay.scala"),
      "processAllAvailable outside streaming/Replay.scala: " +
        (callers - "graft/streaming/Replay.scala").toSeq.sorted.mkString(", "))
  }
}
