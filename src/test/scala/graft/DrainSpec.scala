package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.streaming.{Drain, EventStream, StatePartitions}

/** The [[Drain]] contract over a 3-file JSONL drop read one file per
  * micro-batch: the scratch form counts data batches, fails a wrong
  * schedule by name, and cleans up after a failed drain; the
  * caller-owned form keeps its checkpoint. */
class DrainSpec extends SparkSpec {

  private val Key = "spark.sql.shuffle.partitions"

  private def threeFileDrop(): String = {
    val drop = tmpDir("drain_drop")
    (0 until 3).foreach { k =>
      val p = Paths.get(drop, s"wave$k.json")
      Files.write(p, (0 until 2).map { i =>
        s"""{"event_id":${k * 10 + i},"ts":"2024-01-01T00:0$k:0${i}Z",""" +
          s""""user_id":$i,"event_type":"click","value":1.0}"""
      }.mkString("\n").getBytes("UTF-8"))
      // the file source replays in mtime order: pin wave order
      p.toFile.setLastModified(1700000000000L + k * 1000L)
    }
    drop
  }

  private def stream(drop: String): DataFrame = spark.readStream
    .schema(EventStream.eventSchema)
    .option("maxFilesPerTrigger", "1")
    .json(drop)

  test("the scratch form returns one progress per micro-batch") {
    val drop = threeFileDrop()
    val out = tmpDir("drain_out")
    var ck = ""
    val progress = Drain.scratch(spark, "dspec", 3, 1) { c =>
      ck = c
      Drain.run(stream(drop).writeStream.format("parquet")
        .option("path", out), c)
    }
    assert(Drain.dataBatches(progress) == 3)
    assert(progress.map(_.numInputRows).sum == 6)
    assert(ck.contains("dspec_ck"))
    assert(!Files.exists(Paths.get(ck)), "scratch checkpoint left behind")
    assert(spark.read.parquet(out).count() == 6)
  }

  test("a wrong batch count fails with the drain's named message") {
    val drop = threeFileDrop()
    val out = tmpDir("drain_out")
    val e = intercept[IllegalArgumentException] {
      Drain.scratch(spark, "dspec", 2, 1)(Drain.run(
        stream(drop).writeStream.format("parquet").option("path", out), _))
    }
    assert(e.getMessage.contains(
      "dspec staged 2 wave files but streamed 3 micro-batches"))
    val e2 = intercept[IllegalArgumentException] {
      Drain.scratch(spark, "dspec", 8, 2)(Drain.run(
        stream(drop).writeStream.format("parquet")
          .option("path", tmpDir("drain_out")), _))
    }
    assert(e2.getMessage.contains("dspec staged 8 drop files but " +
      "streamed 3 micro-batches (expected 4)"))
  }

  test("a drain that throws still deletes its checkpoint and ends the loan") {
    val drop = threeFileDrop()
    val prior = spark.conf.get(Key)
    var ck = ""
    var during = ""
    intercept[Exception] {
      Drain.scratch(spark, "dspec", 3, 1) { c =>
        ck = c
        during = spark.conf.get(Key)
        Drain.run(stream(drop).writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (batchId == 1)
              throw new IllegalStateException("sink failed in batch 1")
            ()
          }, c)
      }
    }
    assert(during == StatePartitions.drainPartitions(spark).toString)
    assert(spark.conf.get(Key) == prior)
    assert(ck.nonEmpty && !Files.exists(Paths.get(ck)),
      s"scratch checkpoint $ck left behind after a failed drain")
  }

  test("the caller-owned form keeps its checkpoint: a rerun reads nothing") {
    val drop = threeFileDrop()
    val out = tmpDir("drain_out")
    val ck = tmpDir("drain_ck")
    def drain() = Drain.run(stream(drop).writeStream.format("parquet")
      .option("path", out), ck).recentProgress
    assert(Drain.dataBatches(drain()) == 3)
    val again = drain()
    assert(Drain.dataBatches(again) == 0)
    assert(again.map(_.numInputRows).sum == 0)
    assert(spark.read.parquet(out).count() == 6)
  }
}
