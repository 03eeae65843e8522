package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spatial.Spatial

/** Bronze→silver importer — the batch-merge semantics of
  * src/services/source_importer.py (§2.1 S5/S6, §2.4 A10-A12, §2.9 T7)
  * re-expressed as idempotent DataFrame merges over parquet tables.
  *
  * Without a transactional table format in this environment, "MERGE" is
  * (existing ⟕ incoming) recomputation: each op returns the new table
  * contents; persistence (overwrite-swap) is the caller's choice. Every
  * op is idempotent — re-running an import produces a byte-identical
  * table ("Ran a second time, created nothing",
  * notes/rob_stress_2025apr.txt:60-62) — which is what makes
  * at-least-once delivery safe end-to-end.
  */
object SourceImporter {

  /** A10 — staging dedup: keep the first-seen doc per natural key
    * (mongo `$group $first` over savetime, source_importer.py:195-212).
    *
    * The ordering key is (ingest_ts, payload), not ingest_ts alone:
    * duplicates *within one batch* share a timestamp (wrangle stamps a
    * batch once), and a bare-timestamp min_by would then keep
    * whichever copy its partition happened to scan first — the kept
    * payload must not depend on partition order or the
    * byte-identical-replay property breaks. The payload struct is a
    * total tiebreak, so the choice is deterministic for any physical
    * plan. */
  def dedupFirstSeen(staged: DataFrame, keys: Seq[String],
      ingestTsCol: String = "ingest_ts"): DataFrame = {
    val payload = staged.columns.filterNot(keys.contains)
    val tiebreak = payload.filterNot(_ == ingestTsCol)
    staged.groupBy(keys.map(col): _*)
      .agg(min_by(struct(payload.map(col): _*),
        struct(col(ingestTsCol) +: tiebreak.map(col): _*)).as("_first"))
      .select(keys.map(col) ++ payload.map(c => col(s"_first.$c").as(c)): _*)
  }

  /** P5 — bad-row rejection: solar-system alerts carry diaobjectid 0 or
    * null (source_importer.py:281-298, brokerconsumer.py:476-479). */
  def rejectBadRows(df: DataFrame): DataFrame =
    df.filter(col("diaobjectid").isNotNull && col("diaobjectid") =!= 0L)

  /** Deterministic intra-batch key resolution for raw input: the
    * lexicographically smallest payload tuple wins.
    * `dropDuplicates(keys)` keeps whichever copy a partition scans
    * first — replays on a different partitioning would persist a
    * different payload, breaking the byte-identical-replay guarantee
    * for direct callers of the merge ops (the importer's own input is
    * already unique per key via dedupFirstSeen's explicit tiebreak). */
  private def dropDupDeterministic(df: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = df.columns.toSeq.filterNot(keys.contains)
    if (payload.isEmpty) df.dropDuplicates(keys)
    else df.groupBy(keys.map(col): _*)
      .agg(min(struct(payload.map(col): _*)).as("_p"))
      .select(keys.map(col) ++ payload.map(c => col(s"_p.$c").as(c)): _*)
  }

  /** The insert half of an "ON CONFLICT DO NOTHING" merge: incoming
    * rows whose key is absent from the existing table. It IS the
    * physical delta — an append-only store persists exactly these rows
    * instead of rewriting the table. `incoming` must be unique per key
    * (dedupFirstSeen or dropDupDeterministic output): this is the bare
    * anti-join, so each key is deduplicated once, upstream. */
  private def newRows(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame =
    incoming.select(existing.columns.toSeq.map(col): _*)
      .join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** A11 / S6 — "ON CONFLICT DO NOTHING" merge: insert only rows whose
    * key is absent from the existing table. */
  def mergeKeepExisting(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame =
    existing.unionByName(newRows(existing, dropDupDeterministic(
      incoming.select(existing.columns.toSeq.map(col): _*), keys), keys))

  /** A12 — COALESCE-merge upsert: fill NULL columns of existing rows
    * with newly arrived values, never overwrite non-NULL; insert new
    * keys (ON CONFLICT DO UPDATE SET f = COALESCE(existing.f,
    * EXCLUDED.f), source_importer.py:514-535). */
  def mergeCoalesce(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cols = existing.columns.toSeq
    val payload = cols.filterNot(keys.contains)
    val inc = dropDupDeterministic(incoming.select(cols.map(col): _*), keys)
      .select(keys.map(col) ++ payload.map(c => col(c).as(s"_inc_$c")): _*)
    val updated = existing.join(inc, keys, "left_outer")
      .select(keys.map(col) ++ payload.map(c =>
        coalesce(col(c), col(s"_inc_$c")).as(c)): _*)
    val inserts = inc
      .join(existing.select(keys.map(col): _*), keys, "left_anti")
      .select(keys.map(col) ++ payload.map(c => col(s"_inc_$c").as(c)): _*)
    updated.unionByName(inserts)
  }

  /** T3 — high-water-mark batch window: rows with
    * t0 < ingest_ts <= t1 (source_importer.py:702-757). */
  def importWindow(staged: DataFrame, t0: Column, t1: Column,
      ingestTsCol: String = "ingest_ts"): DataFrame =
    staged.filter(col(ingestTsCol) > t0 && col(ingestTsCol) <= t1)

  /** UUID-formatted 128-bit hash of the given columns (UUIDv3-style).
    * Serialized via to_json(struct(...)) so null/empty inputs stay
    * distinguishable from their concatenations. */
  def deterministicUuid(cols: Column*): Column = {
    val h = md5(to_json(struct(cols: _*)))
    concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
      substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
  }

  final case class ImportResult(
      rootDiaobject: DataFrame,
      diaobject: DataFrame,
      diasource: DataFrame,
      diaforcedsource: DataFrame,
      diaobjectPosition: DataFrame,
      diasourceExtra: DataFrame,
      diaforcedsourceExtra: DataFrame,
      brokerinfo: DataFrame,
      thumbnails: DataFrame)

  /** Project `df` onto `schema`'s columns, filling absent ones with
    * typed nulls — staging rows carry whatever subset of the wide
    * *_extra schemas the packet had; the merge needs the full shape. */
  def conformTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  /** The physical write-set of one importer batch. Every merge in this
    * importer except the *_extra COALESCE upsert is insert-only, so the
    * batch's effect on storage is an APPEND of these row sets — the
    * shape that keeps per-batch I/O O(delta) instead of O(catalog) at
    * continuous-ingest scale (see SilverStore.saveDelta). The two
    * coalesce tables carry their accepted staged docs (`None` when the
    * batch staged nothing): the store appends those and recovers the
    * upsert chain at read time. */
  final case class ImportDeltas(
      rootDiaobject: DataFrame,
      diaobject: DataFrame,
      diasource: DataFrame,
      diaforcedsource: DataFrame,
      diaobjectPosition: DataFrame,
      brokerinfo: DataFrame,
      thumbnails: DataFrame,
      diasourceExtra: Option[DataFrame],
      diaforcedsourceExtra: Option[DataFrame])

  /** T7/J6/W1 — one importer batch, the reference's
    * import_from_mongo step chain (source_importer.py:681-767):
    *
    *  1. dedup staged docs per natural key, reject bad rows;
    *  2. anti-join objects against the existing diaobject table (J3);
    *  3. cone-match genuinely new objects against the existing root
    *     catalog: within `matchRadiusArcsec` (default 1″) join that
    *     root, else mint a fresh uuid (W1 — uuid per row);
    *  4. append new (diaobjectid, base_procver_id, rootid) rows and new
    *     roots; 5./6. keep-existing merge of sources + forced.
    *
    * Root association is order-dependent across batches (first seen
    * wins) — this is the one inherently sequential piece; run batches
    * serially (foreachBatch), everything inside a batch is parallel.
    * Returns (merged tables, the batch's [[ImportDeltas]]).
    */
  def importBatchWithDeltas(
      existing: ImportResult,
      stagedObjects: DataFrame,     // diaobjectid, base_procver_id, ra, dec, ingest_ts
      stagedSources: DataFrame,     // diasource cols + ingest_ts
      stagedForced: DataFrame,      // diaforcedsource cols + ingest_ts
      matchRadiusArcsec: Double = 1.0,
      stagedSourcesExtra: Option[DataFrame] = None,
      stagedForcedExtra: Option[DataFrame] = None,
      stagedBrokerinfo: Option[DataFrame] = None,
      stagedThumbnails: Option[DataFrame] = None): (ImportResult, ImportDeltas) = {

    val objDocs = rejectBadRows(
      dedupFirstSeen(stagedObjects, Seq("diaobjectid", "base_procver_id")))

    // 2./3. per base-procver group, sequentially (mirroring the
    // reference's one-collection-at-a-time import): anti-join against
    // the accumulated diaobject table, cone-match the genuinely new
    // objects against the accumulated root catalog, mint deterministic
    // root ids for misses. Sequencing means a later group's objects
    // join roots created by an earlier group in the same batch; within
    // one group, co-located new objects still each mint a root — the
    // reference has the same limitation (its q3c match sees only
    // pre-existing roots; TODO at source_importer.py:431-433).
    //
    // Deterministic ids (vs the reference's gen_random_uuid, F7/W1):
    // `uuid()` is non-deterministic and would evaluate differently in
    // the two plan branches below, and deterministic ids make replayed
    // imports byte-identical (rob_stress_2025apr.txt:60-62).
    val bpvs = graft.util.Jobs.labelled(stagedObjects.sparkSession, "importer: procver groups") {
      objDocs.select("base_procver_id").distinct().collect().map(_.getString(0)).sorted
    }
    var roots = existing.rootDiaobject
    var diaobject = existing.diaobject
    var rootsDelta = existing.rootDiaobject.limit(0)
    var diaobjectDelta = existing.diaobject.limit(0)
    for (bpv <- bpvs) {
      val grp = objDocs.filter(col("base_procver_id") === bpv)
      val newObjs = grp.join(diaobject,
        Seq("diaobjectid", "base_procver_id"), "left_anti")
      val matched = Spatial.crossmatchRoots(
        newObjs, "diaobjectid", roots, matchRadiusArcsec)
      val withRoot = matched.withColumn("rootid",
        coalesce(col("rootid"), deterministicUuid(
          col("diaobjectid"), col("base_procver_id"))))
      val newRoots = withRoot
        .join(roots.select(col("id").as("rootid")), Seq("rootid"), "left_anti")
        .select(col("rootid").as("id"), col("ra"), col("dec"))
      val newObjRows = withRoot.select("diaobjectid", "base_procver_id", "rootid")
      diaobject = diaobject.unionByName(newObjRows)
      roots = roots.unionByName(newRoots)
      diaobjectDelta = diaobjectDelta.unionByName(newObjRows)
      rootsDelta = rootsDelta.unionByName(newRoots)
    }

    // 5./6. photometry: dedup + keep-existing merge (idempotent)
    val srcDocs = rejectBadRows(dedupFirstSeen(
      stagedSources, Seq("diasourceid", "base_procver_id")))
      .drop("ingest_ts")
    val frcDocs = rejectBadRows(dedupFirstSeen(
      stagedForced, Seq("diaforcedsourceid", "base_procver_id")))
      .drop("ingest_ts")

    // 7. diaobject_position: "simpler, we can just do an import and
    //    ignore conflicts" (source_importer.py:474-483's ON CONFLICT DO
    //    NOTHING) — keep-existing on (diaobjectid, base_procver_id),
    //    first-reported position wins. The reference stamps positions
    //    with a *separate* base_pos_procver_id; alert-path positions
    //    here reuse the object's procver (one stream, one version).
    //    created_at ← ingest_ts so replays stay byte-identical.
    val posDocs = conformTo(
      objDocs.withColumn("created_at", col("ingest_ts")),
      graft.schema.Schemas.diaObjectPosition)
      .filter(col("ra").isNotNull && col("dec").isNotNull)
    val posDelta = newRows(existing.diaobjectPosition, posDocs,
      Seq("diaobjectid", "base_procver_id"))
    val positions = existing.diaobjectPosition.unionByName(posDelta)

    // 8. *_extra: COALESCE upsert — "update fields that are null, just
    //    in case some broker gave us information that a previous broker
    //    didn't" (source_importer.py:514-535, 569-589). Extras whose
    //    parent photometry row was rejected (or never staged) are
    //    dropped via semi-join — the moral equivalent of the
    //    reference's rejectfields plumbing plus its FK constraint.
    // Returns (merged table, accepted docs): the docs ARE the physical
    // delta — SilverStore appends them and recovers the coalesce chain
    // at read time (merge-on-read), since column-wise earliest-non-null
    // is the fold of this upsert over append order.
    def extraMerge(staged: Option[DataFrame], existingTbl: DataFrame,
        parents: DataFrame, idCol: String,
        schema: org.apache.spark.sql.types.StructType)
        : (Option[DataFrame], Option[DataFrame]) =
      staged.map { se =>
        val docs = conformTo(
          dedupFirstSeen(se, Seq(idCol, "base_procver_id")), schema)
          .join(parents.select(idCol, "base_procver_id"),
            Seq(idCol, "base_procver_id"), "left_semi")
        (Some(mergeCoalesce(existingTbl, docs, Seq(idCol, "base_procver_id"))),
          Some(docs))
      }.getOrElse((None, None))
    val (srcExtra, srcExtraDocs) = extraMerge(stagedSourcesExtra,
      existing.diasourceExtra, srcDocs, "diasourceid",
      graft.schema.Schemas.diaSourceExtra)
    val (frcExtra, frcExtraDocs) = extraMerge(stagedForcedExtra,
      existing.diaforcedsourceExtra, frcDocs, "diaforcedsourceid",
      graft.schema.Schemas.diaForcedSourceExtra)

    // 9. brokerinfo: first message per (broker, topic, source) wins
    //    (read_mongo_brokerinfo's $group $first over savetime +
    //    ON CONFLICT DO NOTHING, source_importer.py:380-408, 601-624).
    val biKeys = Seq("brokername", "topic", "diasourceid", "base_procver_id")
    val biDelta = stagedBrokerinfo.map { bi =>
      newRows(existing.brokerinfo,
        conformTo(rejectBadRows(dedupFirstSeen(bi, biKeys)),
          graft.schema.Schemas.diaSourceBrokerInfo), biKeys)
    }.getOrElse(existing.brokerinfo.limit(0))

    // 10. thumbnails: cutoutdifference is the canary — rows without it
    //     (or with a bad diaobjectid) never stage (import_cutouts,
    //     source_importer.py:626-673); whenMatched keepExisting.
    val thDelta = stagedThumbnails.map { th =>
      newRows(existing.thumbnails,
        conformTo(rejectBadRows(
          dedupFirstSeen(th.filter(col("cutoutdifference").isNotNull),
            Seq("diasourceid", "base_procver_id"))),
          graft.schema.Schemas.thumbnails),
        Seq("diasourceid", "base_procver_id"))
    }.getOrElse(existing.thumbnails.limit(0))

    val srcDelta = newRows(existing.diasource, srcDocs,
      Seq("diasourceid", "base_procver_id"))
    val frcDelta = newRows(existing.diaforcedsource, frcDocs,
      Seq("diaforcedsourceid", "base_procver_id"))

    val result = ImportResult(
      roots,
      diaobject,
      existing.diasource.unionByName(srcDelta),
      existing.diaforcedsource.unionByName(frcDelta),
      positions,
      srcExtra.getOrElse(existing.diasourceExtra),
      frcExtra.getOrElse(existing.diaforcedsourceExtra),
      existing.brokerinfo.unionByName(biDelta),
      existing.thumbnails.unionByName(thDelta))
    val deltas = ImportDeltas(rootsDelta, diaobjectDelta, srcDelta, frcDelta,
      posDelta, biDelta, thDelta, srcExtraDocs, frcExtraDocs)
    (result, deltas)
  }
}
