package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

/** Base-level contract obligations for EVERY monitor on the
  * [[LedgerMonitor]] ledger discipline (VERDICT r15 top item): the
  * all-NULL-batch guard and crash-replay idempotence live in the base,
  * so this spec drives each of the six monitors uniformly through both —
  * a seventh monitor gets the same cases by adding one entry here. */
class LedgerMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "ledger-mon"))

  /** Name, monitor factory, a real batch, an all-NULL batch with the
    * same schema. */
  private case class Case(name: String,
                          mk: DocumentStore => LedgerMonitor,
                          real: () => DataFrame,
                          allNull: () => DataFrame)

  private lazy val reference = (1 to 80).map(i => i % 40 + 10).toDF("v")
  private lazy val baseline = Seq.tabulate(24)(p => (p, BigDecimal(100.00), 1L))
    .toDF("pos", "sn", "sc")
    .select(col("pos"), col("sn").cast("decimal(38,2)").as("sn"), col("sc"))

  private def cases: Seq[Case] = Seq(
    Case("drift",
      st => new DriftMonitor(st, "ver", reference, "v", 1L, 4L),
      () => (1 to 80).map(i => i % 40 + 500).toDF("v"),
      () => Seq[Option[Int]](None, None).toDF("v")),
    Case("seasonal",
      st => new SeasonalMonitor(st, "ver", baseline, "ts", "value", 1L, 1L, 24),
      () => Seq(("2024-03-01 05:30:00", 250.0)).toDF("ts", "value")
        .select(col("ts").cast("timestamp").as("ts"), col("value")),
      () => Seq((null: String, 1.0)).toDF("ts", "value")
        .select(col("ts").cast("timestamp").as("ts"), col("value"))),
    Case("benford",
      st => new BenfordMonitor(st, "led", "ver", "src", "v", 5.0, 10L),
      () => (1 to 120).map(i => ("a", (i * 37 % 900 + 100).toLong)).toDF("src", "v"),
      () => Seq(("a", null: java.lang.Long)).toDF("src", "v")),
    Case("psi",
      st => new PsiMonitor(st, "led", "ver",
        edges = Seq(20L, 30L, 40L), refCells = Map(0 -> 10L, 1 -> 10L,
          2 -> 10L, 3 -> 10L), "v", alertAbove = 0.25),
      () => (1 to 40).map(i => i % 40 + 10).toDF("v"),
      () => Seq[Option[Int]](None, None).toDF("v")),
    Case("cusum",
      st => new CusumMonitor(st, "led", "ver", "v", target = 10.0,
        k = 1.0, h = 5.0),
      () => Seq.fill(20)(13.0).toDF("v"),
      () => Seq[Option[Double]](None, None).toDF("v")),
    Case("anytime",
      st => new AnytimeMonitor(st, "led", "ver", "arm", "y", 1e-4, 0.05),
      () => (1 to 60).map(i => (i % 2, i % 3 == 0)).toDF("arm", "y"),
      () => Seq((null: java.lang.Integer, null: java.lang.Boolean))
        .toDF("arm", "y")),
    Case("schema",
      st => new SchemaMonitor(st, "led", "ver", "doc", Seq("k")),
      () => Seq("""{"k": 1}""", """{"k": 2}""").toDF("doc"),
      () => Seq[Option[String]](None, None).toDF("doc")),
    Case("liveness",
      st => new LivenessMonitor(st, "led", "ver", "src", 2),
      () => Seq("a", "a", "b").toDF("src"),
      () => Seq[Option[String]](None, None).toDF("src")),
    Case("reconcile",
      st => new ReconcileMonitor(st, "led", "ver", "k", "c", "p"),
      () => Seq((1L, 50L, 100L), (1L, 50L, 100L), (2L, 30L, 30L))
        .toDF("k", "c", "p"),
      () => Seq((null: java.lang.Long, null: java.lang.Long,
        null: java.lang.Long)).toDF("k", "c", "p")))

  private def snapshot(st: DocumentStore, table: String): Seq[String] =
    if (!st.exists(table)) Seq("<absent>")
    else st.read(table).collect().map(_.toString).sorted.toSeq

  test("all-NULL batch: never throws, never alerts, cumulative signal unchanged") {
    cases.foreach { c =>
      // test store sees an all-NULL batch between two real ones; the
      // control store sees only the real ones at the SAME batch ids —
      // the null batch must not move any later cumulative number
      val st = store(); val ctl = store()
      val m = c.mk(st); val mc = c.mk(ctl)
      m.applyBatch(c.real(), 0L); mc.applyBatch(c.real(), 0L)
      m.applyBatch(c.allNull(), 1L) // must not throw (the PsiMonitor wedge)
      m.applyBatch(c.real(), 2L); mc.applyBatch(c.real(), 2L)
      val verdicts = if (st.exists("ver"))
        st.read("ver").filter(col("batch_id") === 1L).collect()
      else Array.empty[org.apache.spark.sql.Row]
      // either no row (drift/seasonal/benford) or an explicit no-signal
      // row (psi/cusum/anytime) — but NEVER a spurious alert
      verdicts.foreach { r =>
        val alertIdx = r.schema.fieldNames.indexWhere(n =>
          n == "alert" || n == "significant" || n == "flipped")
        assert(alertIdx < 0 || r.isNullAt(alertIdx) || !r.getBoolean(alertIdx),
          s"${c.name}: all-NULL batch raised an alert: $r")
      }
      def at2(s: DocumentStore) =
        s.read("ver").filter(col("batch_id") === 2L)
          .collect().map(_.toString).sorted.toSeq
      assert(at2(st) == at2(ctl),
        s"${c.name}: an all-NULL batch changed a later cumulative verdict")
    }
  }

  test("crash replay: re-running a batch leaves ledger and verdict identical") {
    cases.foreach { c =>
      val st = store()
      val m = c.mk(st)
      m.applyBatch(c.real(), 0L)
      m.applyBatch(c.allNull(), 1L)
      m.applyBatch(c.real(), 2L)
      val led = snapshot(st, "led"); val ver = snapshot(st, "ver")
      // foreachBatch re-delivers an already-processed batch after a crash
      m.applyBatch(c.real(), 0L)
      m.applyBatch(c.real(), 2L)
      assert(snapshot(st, "led") == led, s"${c.name}: replay changed the ledger")
      assert(snapshot(st, "ver") == ver, s"${c.name}: replay changed the verdict")
    }
  }
}
