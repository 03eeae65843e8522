package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.stats.GoldTables
import graft.streaming.{AlertStream, SilverStore}

/** A frame opened on a mutable table before a commit reads its snapshot
  * whole after that commit: the commit keeps the generation it
  * replaced, so no reader mid-refresh or mid-compaction loses files. */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a gold frame held across a refresh reads the old rows; a fresh read the new") {
    val cat = FixtureWorld.catalog(spark)
    val changed = cat.copy(diasource = cat.diasource.filter(col("visit") % 3 =!= 0))
    val out = Files.createTempDirectory("goldsnap").toString
    GoldTables.refreshObjStats(cat, "pvid-pv1", out)
    val held = GoldTables.objStats(spark, out, "pvid-pv1")
    val old = rows(held)
    GoldTables.refreshObjStats(changed, "pvid-pv1", out)
    assert(rows(held) == old, "the held frame lost or changed rows")
    val want = Files.createTempDirectory("goldsnap_want").toString
    GoldTables.refreshObjStats(changed, "pvid-pv1", want)
    val fresh = rows(GoldTables.objStats(spark, out, "pvid-pv1"))
    assert(fresh == rows(GoldTables.objStats(spark, want, "pvid-pv1")))
    assert(fresh != old, "the changed catalog must change the comb table")
  }

  test("a silver frame held across compact reads the same rows") {
    val store = new SilverStore(Files.createTempDirectory("silversnap").toString)
    Seq(Seq(1L, 2L) -> 9L, Seq(50L, 51L) -> 10L).foreach { case (ids, obj) =>
      AlertStream.importAlerts(spark, store,
        AlertFixture.alerts(spark, ids, obj, 42.0, 13.0), "bpv-snap")
    }
    val held = store.load(spark).diasource
    val old = rows(held)
    assert(old.size >= 4)
    store.compact(spark)
    assert(rows(held) == old, "the held frame lost or changed rows")
    assert(rows(store.load(spark).diasource) == old)
  }
}
