package perfbench

import graft.streaming.SilverStore

object Checks {
  /** Silver equals the generator's truth: per table and base procver,
    * the same photometry keys (so redelivered history added no rows),
    * the same objects, and no solar-system rows. */
  def silver(ctx: Ctx, store: SilverStore, truth: Truth): Unit = {
    val r = store.load(ctx.spark)
    def keys(df: org.apache.spark.sql.DataFrame, id: String, base: Long) = {
      val rows = df.select(id, "base_procver_id").collect()
      val a = new java.util.BitSet; val b = new java.util.BitSet
      var dup = 0; var bad = 0
      rows.foreach { row =>
        val k = row.getLong(0) - base
        if (k < 0 || k > Int.MaxValue) bad += 1
        else {
          val bits = if (row.getString(1) == World.BpvB) b else a
          if (bits.get(k.toInt)) dup += 1 else bits.set(k.toInt)
        }
      }
      (a, b, dup, bad)
    }
    for ((name, df, id, base, wantA, wantB) <- Seq(
        ("diasource", r.diasource, "diasourceid", World.SourceBase, truth.srcA, truth.srcB),
        ("diaforcedsource", r.diaforcedsource, "diaforcedsourceid", World.ForcedBase,
          truth.frcA, truth.frcB),
        ("diaobject", r.diaobject, "diaobjectid", World.ObjectBase, truth.objA, truth.objB))) {
      val (a, b, dup, bad) = keys(df, id, base)
      ctx.out.check(s"silver $name keys", a == wantA && b == wantB && dup == 0 && bad == 0,
        s"got ${a.cardinality}+${b.cardinality} (dup $dup, foreign $bad), " +
          s"want ${wantA.cardinality}+${wantB.cardinality}")
    }
  }

  /** Gold `ndets` sums to the deduped detections. */
  def gold(ctx: Ctx, gold: org.apache.spark.sql.DataFrame, oracle: Oracle): Unit = {
    val got = gold.agg(org.apache.spark.sql.functions.sum("ndets"))
      .head().getLong(0)
    val want = oracle.ndetsSum
    ctx.out.check("gold ndets sum", got == want, s"got $got want $want")
  }
}
