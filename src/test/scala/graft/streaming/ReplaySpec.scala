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

  test("withStatePartitions runs its body at min(n, session) and restores " +
      "the session value, also when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def inside(n: Int) =
      Replay.withStatePartitions(spark, n)(spark.conf.get(key).toInt)
    try {
      spark.conf.set(key, "8")
      assert(Replay.withStatePartitions(spark)(spark.conf.get(key)) == "4")
      assert(inside(1) == 1)
      assert(inside(32) == 8)
      assert(spark.conf.get(key) == "8")
      spark.conf.set(key, "2")
      assert(inside(4) == 2)
      val err = intercept[IllegalStateException] {
        Replay.withStatePartitions(spark, 1) {
          assert(spark.conf.get(key) == "1")
          throw new IllegalStateException("boom")
        }
      }
      assert(err.getMessage == "boom")
      assert(spark.conf.get(key) == "2")
    } finally spark.conf.set(key, prev)
  }

  test("the stream certifications size their state without a key probe: " +
      "q262 and q260 start no probe job on the caller's thread") {
    // a probe was an approx_count_distinct `head` in Replay.scala or a
    // `count` in StreamQueries.scala; the one `head` q262 keeps is the
    // sentinel staging's max(ts)
    def sites(q: String) = jobSites(s"probe-$q") {
      graft.SparkEntry.queries(q)(spark, sf("sf0.001")).collect()
    }
    val q262 = sites("q262_session_windows_stream")
    val q260 = sites("q260_curate_stream_incremental")
    val all = (q262 ++ q260).mkString("\n")
    val heads = (q262 ++ q260)
      .flatMap(raw"head at Replay\.scala:\d+".r.findFirstIn(_)).distinct
    assert(heads.size == 1, all)
    assert(!q260.exists(_.contains("head at Replay.scala")), all)
    assert(!all.contains("count at StreamQueries.scala"), all)
  }

  test("only streaming/Replay.scala calls processAllAvailable under src/main") {
    val callers = SourceScan.mainFilesMatching(raw"\bprocessAllAvailable\b".r)
    assert(callers == Set("graft/streaming/Replay.scala"),
      "processAllAvailable outside streaming/Replay.scala: " +
        (callers - "graft/streaming/Replay.scala").toSeq.sorted.mkString(", "))
  }
}
