package graft

import graft.engine._
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Unit coverage for the engine support modules (schema json, raw-bits
  * expressions) — the surface ADVICE.md flagged as unexercised. */
class EngineUnitSpec extends SparkTestBase {
  import spark.implicits._

  test("MeasurementSchema json round-trips; corrupt json fails strictly") {
    val s = MeasurementSchema(Seq(
      Field("a", FieldType.U32), Field("v", FieldType.F64), Field("flag", FieldType.Bool)))
    assert(MeasurementSchema.fromJson(s.toJson) == s)
    // truncated json must FAIL, not parse as a field subset
    val truncated = s.toJson.dropRight(20) + "]}"
    intercept[InvalidSchemaException](MeasurementSchema.fromJson(truncated))
    intercept[InvalidSchemaException](MeasurementSchema.fromJson("{}"))
    intercept[InvalidSchemaException](MeasurementSchema.fromJson("""{"version":2,"fields":[]}"""))
  }

  test("MeasurementSchema validation matrix") {
    intercept[InvalidSchemaException](MeasurementSchema(Nil).validated())
    intercept[InvalidSchemaException](
      MeasurementSchema(Seq(Field("time_ns", FieldType.F64))).validated()) // reserved
    intercept[InvalidSchemaException](
      MeasurementSchema(Seq(Field("x", FieldType.F64), Field("x", FieldType.U32))).validated())
    intercept[InvalidSchemaException](
      MeasurementSchema(Seq(Field("a" * 124, FieldType.F64))).validated())
    intercept[InvalidSchemaException](
      MeasurementSchema((1 to 65).map(i => Field(s"f$i", FieldType.F64))).validated())
    // 64 fields is the reference max and is fine (constants.h:33)
    MeasurementSchema((1 to 64).map(i => Field(s"f$i", FieldType.F64))).validated()
  }

  test("raw-bits expressions distinguish -0.0/0.0 and NaN payloads; codegen path") {
    GraftFunctions.register(spark)
    val df = Seq(
      (0.0, 0.0f), (-0.0, -0.0f),
      (java.lang.Double.longBitsToDouble(0x7ff8000000000001L), Float.NaN))
      .toDF("d", "f")
      .select(call_function("double_raw_bits", col("d")).as("db"),
              call_function("float_raw_bits", col("f")).as("fb"))
    val rows = df.collect()
    assert(rows(0).getLong(0) == 0L && rows(1).getLong(0) == java.lang.Long.MIN_VALUE)
    assert(rows(0).getInt(1) != rows(1).getInt(1))
    assert(rows(2).getLong(0) == 0x7ff8000000000001L) // NaN payload preserved
    // type mismatch is a analysis-time failure, not a wrong answer
    intercept[Exception] {
      Seq(1).toDF("i").select(call_function("double_raw_bits", col("i"))).collect()
    }
  }

  private def wmDir(): org.apache.hadoop.fs.Path = {
    val d = java.nio.file.Files.createTempDirectory("wmstore").toFile
    d.deleteOnExit()
    new org.apache.hadoop.fs.Path(d.getAbsolutePath, "_wm")
  }
  private val hconf = new org.apache.hadoop.conf.Configuration()

  test("WatermarkStore: a straggler delta below the snapshot version survives") {
    val dir = wmDir()
    val store = new WatermarkStore(dir, hconf)
    // 70 single-series updates cross CompactThreshold=64 -> one compaction
    (0 until 70).foreach(i => store.update(Map(s"s$i" -> SeriesRange(i, i + 10))))
    // simulate the >=3-writer race: a writer that listed BEFORE the
    // compaction commits its delta only now, at a long-gone version
    val fs = dir.getFileSystem(hconf)
    val straggler = new org.apache.hadoop.fs.Path(dir, "delta-0000000000000002-deadbeef.jsonl")
    val out = fs.create(straggler, true)
    out.write("""{"series":"straggler","time_first":7,"time_last":9}""".getBytes("UTF-8"))
    out.close()
    // a FRESH reader (no cache) applies it: it is in no snapshot's merged set
    val reader = new WatermarkStore(dir, hconf)
    assert(reader.get("straggler").contains(SeriesRange(7, 9)))
    assert(reader.get("s69").contains(SeriesRange(69, 79)))
    // the NEXT compaction folds the straggler instead of dropping it
    (70 until 140).foreach(i => store.update(Map(s"s$i" -> SeriesRange(i, i + 10))))
    val after = new WatermarkStore(dir, hconf).load()
    assert(after.get("straggler").contains(SeriesRange(7, 9)))
    assert(after.size == 141 && !fs.exists(straggler))
  }

  test("WatermarkStore: three concurrent writers on disjoint series lose no entry") {
    val dir = wmDir()
    val writers = (0 until 3).map(_ => new WatermarkStore(dir, hconf))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writers.zipWithIndex.map { case (w, t) =>
      new Thread(() => {
        try (0 until 100).foreach { i =>
          w.update(Map(s"w$t-$i" -> SeriesRange(i, i + t)))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val table = new WatermarkStore(dir, hconf).load()
    for (t <- 0 until 3; i <- 0 until 100)
      assert(table.get(s"w$t-$i").contains(SeriesRange(i, i + t)), s"lost w$t-$i")
  }

  test("WatermarkStore: same-version snapshots disagreeing on a folded straggler merge commutatively") {
    // the two-compactor race: C1 folded straggler delta d (and deleted it),
    // C2 listed before d existed — both snapshots carry version 5. C1's
    // snapshot holds the NEWER state of d's series; C2's holds the stale
    // one. C1's uuid sorts FIRST here, so the old name-order ++ merge would
    // let the stale entry (sorting last) win — the monotone per-series max
    // must pick the folded state instead, in either name order.
    val dir = wmDir()
    val fs = dir.getFileSystem(hconf)
    def write(name: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
      out.write(body.getBytes("UTF-8")); out.close()
    }
    val newer = Map("s" -> SeriesRange(50, 90), "a" -> SeriesRange(1, 2))
    val stale = Map("s" -> SeriesRange(10, 60), "b" -> SeriesRange(3, 4))
    write("snap-0000000000000005-00000000.jsonl", // C1: folded d, sorts first
      WatermarkStore.encodeSnapshot(Seq("delta-0000000000000002-dddddddd.jsonl"), newer))
    write("snap-0000000000000005-ffffffff.jsonl", // C2: never saw d, sorts last
      WatermarkStore.encodeSnapshot(Nil, stale))
    val table = new WatermarkStore(dir, hconf).load()
    assert(table.get("s").contains(SeriesRange(50, 90)), s"stale entry won: $table")
    assert(table.get("a").contains(SeriesRange(1, 2)))
    assert(table.get("b").contains(SeriesRange(3, 4)))
    // and a straggler delta that BOTH merged-sets miss still applies — but
    // cannot rewind a series a live snapshot already knows a newer state of
    write("delta-0000000000000001-eeeeeeee.jsonl",
      """{"series":"s","time_first":5,"time_last":40}""" + "\n" +
      """{"series":"late","time_first":7,"time_last":9}""" + "\n")
    val table2 = new WatermarkStore(dir, hconf).load()
    assert(table2.get("late").contains(SeriesRange(7, 9)))
    assert(table2.get("s").contains(SeriesRange(50, 90)))
  }

  test("WatermarkStore: 1e5-series catalog soak — bounded listing, sub-second cold load") {
    // the catalog-scale contract: however many series and updates, the
    // directory stays one live snapshot + at most CompactThreshold deltas
    // (+ transiently-unmerged tails), and a COLD reader decodes the whole
    // table from that bounded listing in interactive time
    val dir = wmDir()
    val store = new WatermarkStore(dir, hconf)
    val perBatch = 1000
    val batches = 100 // 1e5 distinct series
    (0 until batches).foreach { b =>
      store.update((0 until perBatch).map { i =>
        val sn = s"sensor-${b * perBatch + i}"
        sn -> SeriesRange(b.toLong, b.toLong + 1000L)
      }.toMap)
    }
    val fs = dir.getFileSystem(hconf)
    val listing = fs.listStatus(dir).map(_.getPath.getName)
    assert(listing.count(_.startsWith("snap-")) == 1, listing.mkString(","))
    assert(listing.count(_.startsWith("delta-")) <= WatermarkStore.CompactThreshold + 1,
      s"${listing.length} files")
    val t0 = System.nanoTime()
    val cold = new WatermarkStore(dir, hconf).load()
    val loadMs = (System.nanoTime() - t0) / 1000000
    assert(cold.size == batches * perBatch)
    assert(cold.get("sensor-99999").contains(SeriesRange(99, 1099)))
    assert(loadMs < 1000, s"cold load took $loadMs ms")
  }

  test("WatermarkStore snapshot header round-trips; headerless body is corrupt") {
    val m = Map("a" -> SeriesRange(1, 2), "b" -> SeriesRange(3, 4))
    val body = WatermarkStore.encodeSnapshot(Seq("delta-x", "snap-y"), m)
    val (merged, table) = WatermarkStore.parseSnapshot(body)
    assert(merged == Set("delta-x", "snap-y") && table == m)
    // an empty merged list is still a header
    assert(WatermarkStore.parseSnapshot(WatermarkStore.encodeSnapshot(Nil, m)) == (Set.empty, m))
    // a body of bare table lines has no merged-set to trust: corrupt
    intercept[InvalidSchemaException](WatermarkStore.parseSnapshot(WatermarkStore.encodeLines(m)))
    // and a store whose live snapshot lacks the header fails to load
    val dir = wmDir()
    val fs = dir.getFileSystem(hconf)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "snap-0000000000000003-0000000a.jsonl"))
    out.write(WatermarkStore.encodeLines(m).getBytes("UTF-8")); out.close()
    intercept[InvalidSchemaException](new WatermarkStore(dir, hconf).load())
  }
}
