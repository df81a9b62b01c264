package tsdbbench

import java.nio.file.{Files, Path}

/** Self-tests of the benchmark itself (not of the program): input
  * determinism, the p90 rule, failure accounting, and exact repetition of
  * the write-path counts for a fixed seed. Prints one line per test and
  * returns the number of failures. */
object SelfTest {
  def run(work: Path, data: Path): Int = {
    var failures = 0
    def test(name: String)(ok: => Boolean): Unit = {
      val passed = try ok catch { case e: Throwable => e.printStackTrace(); false }
      println(s"${if (passed) "ok  " else "FAIL"} $name")
      if (!passed) failures += 1
    }

    test("same seed gives byte-identical fleet history; another seed differs in bytes, not shape") {
      val a = Fleet.history(7, 10, 1)
      val b = Fleet.history(7, 10, 1)
      val c = Fleet.history(8, 10, 1)
      Fleet.digest(a) == Fleet.digest(b) && Fleet.digest(a) != Fleet.digest(c) &&
        a.size == c.size && a.map(_.series).distinct == c.map(_.series).distinct
    }
    test("same seed gives byte-identical live batches; another seed differs in bytes, not shape") {
      def fresh(bs: Seq[LiveBatch]) = bs.map(b => b.points.size - b.late)
      val a = LivePlan.batches(7, 20)
      val b = LivePlan.batches(7, 20)
      val c = LivePlan.batches(8, 20)
      Fleet.digest(a.flatMap(_.points)) == Fleet.digest(b.flatMap(_.points)) &&
        Fleet.digest(a.flatMap(_.points)) != Fleet.digest(c.flatMap(_.points)) &&
        fresh(a) == fresh(c) && a.count(_.replay) == c.count(_.replay)
    }

    test("p90 is withheld when fewer than 10 samples lie beyond it") {
      Stats.p90((1 to 99).map(_.toDouble)).isEmpty &&
        Stats.p90((1 to 100).map(_.toDouble)).contains(90.0) &&
        Stats.beyond(100, 0.9) == 10 && Stats.beyond(99, 0.9) == 9
    }

    test("an injected failure is counted as a failure and not as a timing") {
      val l = new Ledger
      val thrown = l.timed(l.newOp(), "x")(throw new IllegalStateException("injected"))
      val good = l.newOp()
      l.timed(good, "x")(42)
      val kept = l.newOp()
      l.timed(kept, "x")(7)
      l.check(good, "injected check failure")(false)
      thrown.isEmpty && l.attempted == 3 && l.failed == 2 &&
        l.samples.map(_.op) == Seq(kept) && l.ms("x").size == 1
    }

    val spark = Main.session(work)
    test("curate corpus: same seed gives byte-identical documents, another seed differs in bytes, not shape") {
      val base = Corpus.readBase(spark, data.resolve("documents.parquet").toString)
      val a = Corpus.build(7, base, 3)
      val c = Corpus.build(8, base, 3)
      Corpus.digest(a) == Corpus.digest(Corpus.build(7, base, 3)) &&
        Corpus.digest(a) != Corpus.digest(c) && a.size == c.size && a.size == 3 * base.size
    }

    test("engine.write.jobs_per_batch and files_per_batch repeat exactly for a fixed seed") {
      def once(i: Int): Map[String, Double] = {
        val dir = work.resolve(s"repeat-$i")
        val probe = new Probe(spark)
        probe.attach()
        val env = new Env(spark, dir, 11L, 0.0, new Trace(true), Some(probe), new Ledger, data, 0.0)
        val o = LiveIngest.run(env)
        env.rmrf(dir)
        require(env.ledger.failed == 0, env.ledger.errors.mkString("; "))
        o.perLayer
      }
      val keys = Seq("engine.write.jobs_per_batch", "engine.write.files_per_batch",
        "engine.maintenance.buckets_rewritten")
      val (a, b) = (once(1), once(2))
      keys.foreach(k => println(s"     $k: ${a(k)} / ${b(k)}"))
      keys.forall(k => a(k) == b(k) && a(k) > 0)
    }

    // a two-replica corpus for the full-oracle check in selftest.py
    Corpus.frame(spark, Corpus.build(7, Corpus.readBase(spark,
      data.resolve("documents.parquet").toString), 2))
      .write.mode("overwrite").parquet(work.resolve("oracle-corpus/documents.parquet").toString)
    spark.stop()
    failures
  }
}
