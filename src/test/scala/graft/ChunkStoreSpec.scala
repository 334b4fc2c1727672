package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ChunkStore
import SparkFixture.{sf, spark}

class ChunkStoreSpec extends AnyFunSuite {

  test("chunk round-trip reproduces every sample exactly") {
    val back = ChunkStore.roundtrip(spark, sf)
    val src = Tables.events(spark, sf).select(
      col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("chunk bytes are Prometheus XOR chunks; mint/maxt bound the chunk") {
    val raw = ChunkStore.buildChunks(spark, sf).collect()
    assert(raw.nonEmpty)
    raw.foreach { c =>
      assert(c.mint <= c.maxt)
      assert(c.maxt - c.mint < ChunkStore.UsPerHour)
      // uint16 big-endian sample count header, as in tsdb/chunkenc
      val hdr = ((c.chunk(0) & 0xFF) << 8) | (c.chunk(1) & 0xFF)
      assert(hdr === c.n_samples)
      // decoded first/last timestamps match mint/maxt (sorted encoding)
      val samples = graft.sources.XorChunk.decode(c.chunk)
      assert(samples.length === c.n_samples)
      assert(samples.head._1 === c.mint)
      assert(samples.last._1 === c.maxt)
    }
  }

  test("chunk files are written in (mint, maxt, labels) sort order") {
    ChunkStore.writeChunks(spark, sf, SparkFixture.tmp("test_chunks"))
    val files = new java.io.File(SparkFixture.tmp("test_chunks")).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.nonEmpty)
    files.foreach { f =>
      val mints = spark.read.parquet(f).select("mint").collect().map(_.getLong(0))
      mints.zip(mints.tail).foreach { case (a, b) =>
        assert(a <= b, s"mint out of order in $f")
      }
    }
  }

  test("range query pushes mint/maxt bounds to the chunk scan") {
    val df = ChunkStore.rangeQuery(spark, sf, 1704153600000000L, 1704240000000000L)
    val src = Tables.events(spark, sf)
      .filter(unix_micros(col("ts")).between(1704153600000000L, 1704240000000000L))
    assert(df.count() === src.count())
    val plan = SparkFixture.planOf(df)
    assert(plan.contains("LessThanOrEqual(mint,1704240000000000)"), plan)
    assert(plan.contains("GreaterThanOrEqual(maxt,1704153600000000)"), plan)
  }
}
