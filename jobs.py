#!/usr/bin/env python
"""spark-submit entrypoint for the lakehouse maintenance engine.

Launch surface (north rule): the engine runs as standalone Spark jobs,

    zip -qr /tmp/lakehouse.zip lakehouse
    spark-submit --master local[32] --py-files /tmp/lakehouse.zip \
        jobs.py create  --table /data/clips
    spark-submit ... jobs.py synth   --table /data/clips --rows 100000 \
        --appends 8
    spark-submit ... jobs.py compact --table /data/clips
    spark-submit ... jobs.py cluster --table /data/clips \
        --columns clip_id,ingest_ts --curve hilbert
    spark-submit ... jobs.py expire  --table /data/clips --keep-last 2 --gc
    spark-submit ... jobs.py rewrite-manifests --table /data/clips
    spark-submit ... jobs.py merge-demo --table /data/clips --frac 10
    spark-submit ... jobs.py scan    --table /data/clips [--snapshot N]
    spark-submit ... jobs.py snapshots --table /data/clips
    spark-submit ... jobs.py stream-demo --table /data/clips --batches 3

Also runnable as ``python jobs.py ...`` (builds its own local session).
The reference's equivalent surface is the Glue job submit wiring at
/root/reference/infra/terraform/modules/glue/main.tf:101-115; here the
whole table layer is ours, so the CLI exposes maintenance verbs Delta
kept behind OPTIMIZE/VACUUM/MERGE.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(args):
    from lakehouse.session import build_session

    return build_session(
        f"lakehouse-{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def _table(spark, args):
    from lakehouse import Table

    return Table.load(spark, args.table)


def _emit(payload: dict) -> None:
    print(json.dumps(payload, default=str))


def cmd_create(args):
    import json as _json

    from lakehouse import Table
    from lakehouse.schema import CLIPS_SCHEMA

    spark = _spark(args)
    props = _json.loads(args.properties) if args.properties else None
    Table.create(
        spark,
        args.table,
        CLIPS_SCHEMA,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
        properties=props,
    )
    _emit({"op": "create", "table": args.table, "properties": props})


def cmd_synth(args):
    from lakehouse.synth import synth_clips_df

    spark = _spark(args)
    t = _table(spark, args)
    per = args.rows // args.appends
    total = 0
    t0 = time.time()
    for i in range(args.appends):
        # each append synthesizes a disjoint index slice executor-side
        df = synth_clips_df(
            spark, per, start=args.start + i * per, seed=args.seed,
            n_days=args.days,
        )
        snap = t.append(df, target_file_count=args.files_per_append)
        total += snap.summary.get("added_records", 0)
    _emit(
        {
            "op": "synth",
            "rows": total,
            "appends": args.appends,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_compact(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = t.compact(target_file_size=args.target_file_size)
    _emit(
        {
            "op": "compact",
            "job_id": res.job_id,
            "files_in": res.files_rewritten,
            "files_out": res.files_created,
            "bytes_rewritten": res.bytes_rewritten,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_cluster(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = t.cluster(args.columns.split(","), curve=args.curve)
    _emit(
        {
            "op": "cluster",
            "curve": args.curve,
            "job_id": res.job_id,
            "files_in": res.files_rewritten,
            "files_out": res.files_created,
            "bytes_rewritten": res.bytes_rewritten,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_expire(args):
    spark = _spark(args)
    t = _table(spark, args)
    res = t.expire_snapshots(
        keep_last=args.keep_last, max_ref_age_ms=args.max_ref_age_ms
    )
    out = {
        "op": "expire",
        "expired": res.expired_snapshot_ids,
        "dropped_refs": res.dropped_refs,
    }
    if args.gc:
        gc = t.remove_orphan_files(
            older_than_ms=int(time.time() * 1000) + 60_000
        )
        out["gc_deleted_files"] = len(gc.deleted_files)
    _emit(out)


def cmd_rewrite_manifests(args):
    spark = _spark(args)
    t = _table(spark, args)
    res = t.rewrite_manifests(
        entries_per_manifest=args.entries_per_manifest
    )
    _emit(
        {
            "op": "rewrite-manifests",
            "snapshot_id": res.snapshot_id,
            "manifests_before": res.manifests_before,
            "manifests_after": res.manifests_after,
            "entries": res.entries,
        }
    )


def cmd_clone(args):
    spark = _spark(args)
    t = _table(spark, args)
    from lakehouse.ops.clone import clone_table

    res = clone_table(
        t, args.dest, snapshot_id=args.snapshot
    )
    _emit(
        {
            "op": "clone",
            "dest": res.dest_root,
            "snapshot_id": res.snapshot_id,
            "files_linked": res.files_linked,
            "files_copied": res.files_copied,
            "manifests": res.manifests,
            "bytes_referenced": res.bytes_referenced,
        }
    )


def cmd_merge_demo(args):
    from pyspark.sql import functions as F

    spark = _spark(args)
    t = _table(spark, args)
    src = (
        t.scan()
        .filter(F.xxhash64("clip_id") % args.frac == 0)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" [v2]")))
    )
    kw = {}
    if args.full_sync:
        kw["not_matched_by_source"] = "delete"
    if args.sync_condition:
        # forwarded unconditionally: --sync-condition without
        # --full-sync must raise (the engine rejects a condition with
        # no clause), never silently run a plain upsert
        kw["not_matched_by_source_condition"] = args.sync_condition
    t0 = time.time()
    res = t.merge(src, key="clip_id", mode=args.mode, **kw)
    _emit(
        {
            "op": "merge",
            "mode": args.mode,
            "full_sync": bool(args.full_sync),
            "files_touched": res.files_touched,
            "rows_written": res.rows_written,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_spj(args):
    """Storage-partitioned join of two bucket-partitioned tables —
    shuffle-free by construction; emits the plan evidence."""
    from lakehouse.spj import storage_partitioned_join
    from lakehouse.table import Table

    spark = _spark(args)
    ta = _table(spark, args)
    tb = Table.load(spark, args.other)
    t0 = time.time()
    out = storage_partitioned_join(
        ta, tb, on=args.on, how=args.how
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    n = out.count()
    _emit(
        {
            "op": "spj",
            "how": args.how,
            "rows": n,
            "exchanges_in_plan": plan.count("Exchange"),
            "join_nodes_in_plan": sum(
                plan.count(j)
                for j in (
                    "SortMergeJoin",
                    "BroadcastHashJoin",
                    "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin",
                )
            ),
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_scan(args):
    from pyspark.sql import functions as F

    spark = _spark(args)
    t = _table(spark, args)
    df = t.scan(snapshot_id=args.snapshot)
    agg = df.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dur_ms").alias("total_dur_ms"),
    )
    _emit(
        {
            "op": "scan",
            "snapshot": args.snapshot or t.current_snapshot_id(),
            "rows": df.count(),
            "by_codec": [r.asDict() for r in agg.collect()],
        }
    )


def cmd_snapshots(args):
    spark = _spark(args)
    t = _table(spark, args)
    _emit(
        {
            "op": "snapshots",
            "current": t.current_snapshot_id(),
            "snapshots": [
                {
                    "id": s.snapshot_id,
                    "op": s.operation,
                    "summary": s.summary,
                }
                for s in t.snapshots()
            ],
        }
    )


def cmd_ingest_wav(args):
    """Bulk-ingest a directory tree of raw .wav files into the table
    (binaryFile source -> header-only Arrow parse -> clips rows);
    malformed files are reported and skipped."""
    from pyspark.sql import functions as F

    from lakehouse.audio import ingest_wav_dir
    from lakehouse.table import Table

    spark = _spark(args)
    t = _table(spark, args)
    df = ingest_wav_dir(spark, args.source)
    bad = df.filter(F.col("ingest_error").isNotNull()).select(
        "clip_id", "ingest_error"
    )
    rejected = [r.asDict() for r in bad.limit(20).collect()]
    good = df.filter(F.col("ingest_error").isNull()).drop("ingest_error")
    snap = t.append(good)
    _emit(
        {
            "op": "ingest-wav",
            "snapshot_id": snap.snapshot_id,
            "rows": int(snap.summary.get("added_records", 0)),
            "rejected_sample": rejected,
        }
    )


def cmd_add_files(args):
    """Metadata-only adoption of existing parquet (Iceberg add_files):
    hardlink external files into the table + ONE footer-harvested
    commit — zero data bytes read or rewritten (lakehouse/ops/adopt.py)."""
    spark = _spark(args)
    t = _table(spark, args)
    snap = t.add_files(
        args.source, allow_extra_columns=args.allow_extra_columns
    )
    _emit(
        {
            "op": "add-files",
            "snapshot_id": snap.snapshot_id,
            "adopted_files": snap.summary.get("adopted-files"),
            "zero_copy_links": snap.summary.get("zero-copy-links"),
            "rows": int(snap.summary.get("added_records", 0)),
        }
    )


def cmd_metrics(args):
    """Ops-metrics history: one row per commit from snapshot summaries
    (rows/bytes/files added-removed, commit wall, lineage job link) —
    the queryable form of the reference's monitoring chapter."""
    spark = _spark(args)
    t = _table(spark, args)
    df = t.metrics()
    if args.sql_filter:
        df = df.filter(args.sql_filter)
    _emit(
        {
            "op": "metrics",
            "commits": [r.asDict() for r in df.collect()],
        }
    )


def cmd_export_wds(args):
    """WebDataset tar-shard export / incremental sync — the
    training-loader handoff (lakehouse/webdataset.py)."""
    spark = _spark(args)
    t = _table(spark, args)
    kw = {"n_shards": args.shards}
    if args.meta_cols:
        kw["meta_cols"] = args.meta_cols.split(",")
    if args.sync:
        from lakehouse.webdataset import sync_webdataset

        res = sync_webdataset(t, args.out, **kw)
        _emit(
            {
                "op": "export-wds",
                "mode": res.mode,
                "synced_snapshot_id": res.synced_snapshot_id,
                "dirty_shards": sorted(res.dirty_shards),
                "removed_shards": sorted(res.removed_shards),
                "shards": res.manifest.count(),
            }
        )
        return
    from lakehouse.webdataset import export_webdataset

    man = export_webdataset(t.scan(), args.out, **kw).collect()
    _emit(
        {
            "op": "export-wds",
            "mode": "full",
            "shards": len(man),
            "samples": sum(r["n_samples"] for r in man),
            "bytes": sum(r["tar_bytes"] for r in man),
        }
    )


def cmd_profile_clips(args):
    """Audio corpus data card (lakehouse/audio.py profile_clips)."""
    spark = _spark(args)
    t = _table(spark, args)
    from lakehouse.audio import profile_clips

    rows = profile_clips(t.scan()).collect()
    _emit(
        {
            "op": "profile-clips",
            "card": [
                {"section": r["section"], "metric": r["metric"],
                 "value": r["value"]}
                for r in rows
            ],
        }
    )


def cmd_funnel(args):
    """Ordered funnel + cohort retention over an events-shaped table
    (lakehouse/funnel.py) — the analyst report pack."""
    spark = _spark(args)
    t = _table(spark, args)
    from lakehouse.funnel import cohort_retention, funnel_report

    steps = [s for s in args.steps.split(",") if s]
    rep = funnel_report(
        t.scan(),
        steps,
        user_col=args.user_col,
        ts_col=args.ts_col,
        type_col=args.type_col,
        within=args.within,
    ).collect()
    coh = (
        cohort_retention(
            t.scan(), user_col=args.user_col, ts_col=args.ts_col,
            max_periods=args.max_periods,
        )
        .orderBy("cohort_week", "weeks_since")
        .collect()
    )
    _emit(
        {
            "op": "funnel",
            "steps": [
                {"step": r.step, "event_type": r.event_type,
                 "users": r.users,
                 "conversion_from_prev": r.conversion_from_prev,
                 "conversion_from_first": r.conversion_from_first}
                for r in sorted(rep, key=lambda r: r.step)
            ],
            "cohorts": [
                {"cohort_week": str(r.cohort_week),
                 "weeks_since": r.weeks_since, "users": r.users}
                for r in coh
            ],
        }
    )


def cmd_journeys(args):
    """Journey analytics over an events-shaped table: multi-touch
    attribution (lakehouse/attribution.py), next-event transitions and
    top-k paths (lakehouse/paths.py), event-rate anomalies
    (lakehouse/anomaly.py) — the round-3 analyst pack next to `funnel`."""
    spark = _spark(args)
    t = _table(spark, args)
    from lakehouse.anomaly import rate_anomalies
    from lakehouse.attribution import attribution_report
    from lakehouse.paths import event_transitions, top_paths

    ev = t.scan()
    touches = [s for s in args.touches.split(",") if s]
    att = attribution_report(
        ev, touches, args.conversion,
        model=args.model, lookback=args.lookback,
        user_col=args.user_col, ts_col=args.ts_col,
        type_col=args.type_col,
    ).collect()
    trans = event_transitions(
        ev, user_col=args.user_col, ts_col=args.ts_col,
        type_col=args.type_col,
    ).collect()
    paths = top_paths(
        ev, k_events=args.k_events, n_paths=args.n_paths,
        user_col=args.user_col, ts_col=args.ts_col,
        type_col=args.type_col,
    ).collect()
    anom = rate_anomalies(
        ev, bucket_s=args.bucket_s, z_threshold=args.z_threshold,
        key_col=args.type_col, ts_col=args.ts_col,
    ).collect()
    _emit(
        {
            "op": "journeys",
            "attribution": [
                {"channel": r.channel, "conversions": r.conversions,
                 "value": r.value}
                for r in att
            ],
            "transitions": [
                {"src": r.src_type, "dst": r.dst_type,
                 "n": r.transitions, "p": r.probability}
                for r in trans
            ],
            "top_paths": [
                {"path": r.path, "users": r.users} for r in paths
            ],
            "rate_anomalies": [
                {"key": r.key, "bucket_start_us": r.bucket_start_us,
                 "n_events": r.n_events, "z": r.z_score}
                for r in anom
            ],
        }
    )


def cmd_ab_test(args):
    """A/B experiment readout over an events-shaped table
    (lakehouse/abtest.py)."""
    spark = _spark(args)
    t = _table(spark, args)
    from lakehouse.abtest import ab_test_report

    rep = ab_test_report(
        t.scan(),
        conversion_type=args.conversion,
        variants=args.variants,
        seed=args.seed,
        user_col=args.user_col,
        type_col=args.type_col,
    ).collect()
    _emit(
        {
            "op": "ab-test",
            "arms": [
                {"variant": r.variant, "users": r.users,
                 "converters": r.converters, "conv_rate": r.conv_rate,
                 "conv_value": r.conv_value, "lift": r.lift,
                 "z_score": r.z_score}
                for r in rep
            ],
        }
    )


def cmd_delete(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    if args.mode in ("mor", "mor-pos"):
        res = (
            t.delete(args.where, mode="mor", key=args.key)
            if args.mode == "mor"
            else t.delete(args.where, mode="mor-pos")
        )
        _emit(
            {
                "op": "delete",
                "mode": args.mode,
                "keys_deleted": res.keys_deleted,
                "delete_file": res.delete_file,
                "secs": round(time.time() - t0, 2),
            }
        )
        return
    res = t.delete(args.where)
    _emit(
        {
            "op": "delete",
            "mode": "cow",
            "rows_deleted": res.rows_affected,
            "files_dropped": res.files_dropped,
            "files_rewritten": res.files_rewritten,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_materialize_deletes(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = t.materialize_deletes()
    _emit(
        {
            "op": "materialize-deletes",
            "delete_files_removed": res.delete_files_removed,
            "data_files_rewritten": res.data_files_rewritten,
            "files_written": res.files_written,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_convert_deletes(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = t.convert_deletes()
    _emit(
        {
            "op": "convert-deletes",
            "eq_files_converted": res.eq_files_converted,
            "pos_files_compacted": res.pos_files_compacted,
            "positions_written": res.positions_written,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_rename_column(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    snap = t.rename_column(args.old, args.new)
    _emit(
        {
            "op": "rename-column",
            "renamed": f"{args.old}->{args.new}",
            "snapshot_id": snap.snapshot_id,
            "files_rewritten": 0,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_drop_column(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    snap = t.drop_column(args.column)
    _emit(
        {
            "op": "drop-column",
            "dropped": args.column,
            "snapshot_id": snap.snapshot_id,
            "files_rewritten": 0,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_maintain(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    kw = {"dry_run": args.dry_run, "gc": args.gc}
    if args.cluster_by:
        kw["cluster_by"] = args.cluster_by.split(",")
    if args.expire_keep_last is not None:
        kw["expire_keep_last"] = args.expire_keep_last
    rep = t.maintain(**kw)
    _emit(
        {
            "op": "maintain",
            "dry_run": rep.dry_run,
            "actions": rep.actions,
            "skipped": [s["action"] for s in rep.skipped],
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_set_identity(args):
    spark = _spark(args)
    t = _table(spark, args)
    if args.drop:
        t.drop_identity_column_rule(args.column)
        _emit({"op": "set-identity", "column": args.column, "dropped": True})
        return
    t.set_identity_column(args.column, start=args.start, step=args.step)
    from lakehouse.identity import identity_of

    _emit(
        {
            "op": "set-identity",
            "column": args.column,
            "spec": identity_of(t.meta.properties)[args.column],
        }
    )


def cmd_add_constraint(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    t.add_check_constraint(args.name, args.expr)
    _emit(
        {
            "op": "add-constraint",
            "name": args.name,
            "expr": args.expr,
            "constraints": t.check_constraints(),
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_drop_constraint(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    t.drop_check_constraint(args.name)
    _emit(
        {
            "op": "drop-constraint",
            "name": args.name,
            "constraints": t.check_constraints(),
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_analyze(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    cols = (
        args.columns.split(",")
        if args.columns
        else [f.name for f in t.schema.fields]
    )
    res = t.analyze(cols, k=args.k)
    _emit(
        {
            "op": "analyze",
            "ndv": {
                c: {"estimate": round(nd.ndv, 1), "exact": nd.exact}
                for c, nd in res.items()
            },
            "k": args.k,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_histogram(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = t.analyze_histograms(
        args.columns.split(","), buckets=args.buckets, exact=args.exact
    )
    _emit(
        {
            "op": "histogram",
            "histograms": {
                c: {
                    "n_rows": h.n_rows,
                    "n_nulls": h.n_nulls,
                    "min": h.min_v,
                    "bounds": h.bounds,
                    "method": h.method,
                }
                for c, h in res.items()
            },
            "buckets": args.buckets,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_sum(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = t.sum_agg(args.columns.split(","))
    _emit(
        {
            "op": "sum",
            "per_column": {
                c: {"sum": s, "count": n}
                for c, (s, n) in res.per_column.items()
            },
            "files_metadata_only": res.files_metadata_only,
            "files_scanned": res.files_scanned,
            "fallback": res.fallback,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_count(args):
    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = t.count_rows()
    _emit(
        {
            "op": "count",
            "rows": res.value,
            "files_metadata_only": res.files_metadata_only,
            "files_scanned": res.files_scanned,
            "fallback": res.fallback,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_rollup(args):
    """Create-if-absent + refresh an incrementally-maintained rollup of
    the clips table (count + duration sum/min/max by event_date)."""
    from lakehouse.errors import TableNotFoundError
    from lakehouse.rollup import MaterializedRollup

    spark = _spark(args)
    t = _table(spark, args)
    try:
        from lakehouse.table import Table as _T

        _T.load(spark, args.rollup_root)
        roll = MaterializedRollup(spark, args.rollup_root)
    except TableNotFoundError:
        roll = MaterializedRollup.create(
            spark,
            args.rollup_root,
            t,
            group_by=["event_date"],
            aggs={
                "n": ("count", None),
                "dur_sum": ("sum", "CAST(dur_ms AS BIGINT)"),
                "dur_min": ("min", "dur_ms"),
                "dur_max": ("max", "dur_ms"),
            },
        )
    t0 = time.time()
    res = roll.refresh()
    _emit(
        {
            "op": "rollup",
            "mode": res.mode,
            "groups_changed": res.groups_changed,
            "groups_recomputed": res.groups_recomputed,
            "rollup_rows": roll.scan().count(),
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_set_sort_order(args):
    spark = _spark(args)
    t = _table(spark, args)
    cols = args.columns.split(",") if args.columns else None
    t.set_sort_order(cols)
    _emit({"op": "set-sort-order", "sort_order": t.sort_order()})


def cmd_features(args):
    """Create-if-absent + refresh an incrementally-maintained derived
    feature table (decode stats per clip via the audio_stats
    transform, or --transform to pick another registered extractor)."""
    from lakehouse.errors import TableNotFoundError
    from lakehouse.transform import MaterializedTransform

    spark = _spark(args)
    t = _table(spark, args)
    try:
        from lakehouse.table import Table as _T

        _T.load(spark, args.features_root)
        mt = MaterializedTransform(spark, args.features_root)
    except TableNotFoundError:
        mt = MaterializedTransform.create(
            spark,
            args.features_root,
            t,
            key="clip_id",
            columns=["clip_id", "bytes"],
            transform=args.transform,
        )
    t0 = time.time()
    res = mt.refresh()
    _emit(
        {
            "op": "features",
            "mode": res.mode,
            "rows_upserted": res.rows_upserted,
            "rows_deleted": res.rows_deleted,
            "feature_rows": mt.scan().count(),
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_sql(args):
    spark = _spark(args)
    t = _table(spark, args)
    t.create_or_replace_view(args.view, snapshot_id=args.snapshot)
    rows = spark.sql(args.query).limit(args.limit).collect()
    _emit(
        {
            "op": "sql",
            "view": args.view,
            "rows": [r.asDict(recursive=True) for r in rows],
        }
    )


def cmd_evolve_spec(args):
    import json as _json

    spark = _spark(args)
    t = _table(spark, args)
    spec_id = t.update_partition_spec(_json.loads(args.spec))
    _emit({"op": "evolve-spec", "spec_id": spec_id})


def cmd_update(args):
    spark = _spark(args)
    t = _table(spark, args)
    col, _, expr = args.set.partition("=")
    t0 = time.time()
    if args.mode == "mor":
        res = t.update(
            {col.strip(): expr.strip()}, args.where, mode="mor", key=args.key
        )
        _emit(
            {
                "op": "update",
                "mode": "mor",
                "rows_written": res.rows_written,
                "files_touched": res.files_touched,
                "secs": round(time.time() - t0, 2),
            }
        )
        return
    res = t.update({col.strip(): expr.strip()}, args.where)
    _emit(
        {
            "op": "update",
            "mode": "cow",
            "rows_updated": res.rows_affected,
            "files_rewritten": res.files_rewritten,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_curate(args):
    """Write the curated document set (exact + near dedup + quality
    floor) to a parquet directory."""
    from lakehouse.dedup import curate_documents

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    t0 = time.time()
    kept = curate_documents(df, threshold=args.threshold)
    kept.write.mode("overwrite").parquet(args.output)
    n_in, n_out = df.count(), spark.read.parquet(args.output).count()
    _emit(
        {
            "op": "curate",
            "docs_in": n_in,
            "docs_kept": n_out,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_profile(args):
    from lakehouse.profile import profile_columns

    spark = _spark(args)
    t = _table(spark, args)
    cols = args.columns.split(",") if args.columns else None
    t0 = time.time()
    rows = profile_columns(t.scan(), cols).collect()
    _emit(
        {
            "op": "profile",
            "columns": {
                r.column: {
                    "n": r.n,
                    "nulls": r.nulls,
                    "n_distinct": r.n_distinct,
                    "min": r.min_s,
                    "max": r.max_s,
                }
                for r in rows
            },
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_rollback(args):
    spark = _spark(args)
    t = _table(spark, args)
    t.rollback(args.snapshot)
    _emit({"op": "rollback", "current": t.current_snapshot_id()})


def cmd_branch(args):
    spark = _spark(args)
    t = _table(spark, args)
    if args.action == "create":
        t.create_branch(args.name, snapshot_id=args.snapshot)
    elif args.action == "tag":
        t.create_tag(args.name, snapshot_id=args.snapshot)
    elif args.action == "publish":
        t.fast_forward(args.name, drop=args.drop)
    elif args.action == "cherry-pick":
        # publish a staged branch head onto a MOVED main (fast_forward
        # refuses diverged publishes; this is the other half of WAP)
        snap = t.cherry_pick(
            args.snapshot
            if args.snapshot is not None
            else t.refs()[args.name]["snapshot_id"]
        )
        if args.drop:
            t.drop_ref(args.name)
        _emit(
            {
                "op": "branch-cherry-pick",
                "snapshot_id": snap.snapshot_id,
                "summary": snap.summary,
            }
        )
        return
    elif args.action == "drop":
        t.drop_ref(args.name)
    _emit({"op": f"branch-{args.action}", "refs": t.refs()})


def cmd_cdc(args):
    from pyspark.sql import functions as F

    spark = _spark(args)
    t = _table(spark, args)
    cdc = t.row_changes(
        from_snapshot_id=args.from_snapshot, to_snapshot_id=args.to_snapshot
    )
    counts = {
        r["_change_type"]: r["n"]
        for r in cdc.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    _emit({"op": "cdc", "changes": counts})


def cmd_stream_demo(args):
    """Structured-streaming ingest demo: rate source → synth clips →
    foreachBatch append (the reference's W1/W2 sink pattern,
    /root/reference/etl/glue_stream.py:257-264,339-349, with our table
    layer in place of the Delta jar)."""
    from lakehouse.streaming import run_stream_demo

    spark = _spark(args)
    t = _table(spark, args)
    result = run_stream_demo(
        spark, t, batches=args.batches, rows_per_second=args.rate
    )
    _emit({"op": "stream-demo", **result})


def cmd_dedup_clips(args):
    """Near-dup clip removal: perceptual fingerprint → Hamming pairs →
    merge-on-read delete of each pair's greater id."""
    from lakehouse.audio import dedup_clips

    spark = _spark(args)
    t = _table(spark, args)
    t0 = time.time()
    res = dedup_clips(t, max_hamming=args.max_hamming)
    _emit(
        {
            "op": "dedup-clips",
            "clips_removed": res.keys_deleted,
            "snapshot": res.snapshot_id,
            "delete_file": res.delete_file,
            "secs": round(time.time() - t0, 2),
        }
    )


def cmd_catalog(args):
    """Catalog verbs: create / register / unregister / tables / sql —
    the Glue-catalog analog as a launch-surface command
    (/root/reference/infra/terraform/modules/glue/main.tf:130-182)."""
    from lakehouse import Catalog

    if args.action == "create":
        Catalog.create(args.catalog)
        _emit({"op": "catalog", "action": "create", "path": args.catalog})
        return
    cat = Catalog.load(args.catalog)
    if args.action == "register":
        cat.register(args.name, args.table_root, replace=args.replace)
        _emit({"op": "catalog", "action": "register", "name": args.name})
    elif args.action == "unregister":
        cat.unregister(args.name)
        _emit({"op": "catalog", "action": "unregister", "name": args.name})
    elif args.action == "tables":
        _emit({"op": "catalog", "action": "tables", "tables": cat.tables()})
    elif args.action == "sql":
        from lakehouse.sql import is_engine_statement

        spark = _spark(args)
        # the statement's OWN query parts (INSERT ... SELECT FROM t, MERGE
        # USING t, CREATE TABLE AS SELECT FROM t) resolve catalog tables
        # through the same snapshot-pinned views reads use
        cat.register_views(spark)
        if is_engine_statement(spark, args.query):
            # write/DDL statements dispatch to the native ops
            res = cat.sql(spark, args.query)
            shown = getattr(res, "root", res)  # Table → its root path
            _emit({
                "op": "catalog",
                "action": "sql",
                "statement": args.query.split(None, 1)[0].upper(),
                "result": repr(shown),
            })
            return
        rows = spark.sql(args.query).limit(args.limit).collect()
        _emit({
            "op": "catalog",
            "action": "sql",
            "rows": [r.asDict(recursive=True) for r in rows],
        })
    elif args.action == "recover-txns":
        spark = _spark(args)
        out = cat.recover_txns(spark)
        _emit({
            "op": "catalog",
            "action": "recover-txns",
            "recovered": out,
        })
    elif args.action == "maintain-all":
        spark = _spark(args)
        out = cat.maintain_all(spark, dry_run=args.dry_run)
        _emit({
            "op": "catalog",
            "action": "maintain-all",
            "results": {
                k: (
                    v.mode
                    if hasattr(v, "mode")
                    else [a["action"] for a in v.actions]
                    if hasattr(v, "actions")
                    else v
                )
                for k, v in out.items()
            },
        })


def main():
    p = argparse.ArgumentParser(prog="jobs.py")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    def t(sp):
        sp.add_argument("--table", required=True)

    s = sub.add_parser("create")
    t(s)
    s.add_argument(
        "--properties",
        default=None,
        help='JSON table properties, e.g. \'{"agg_stats_columns": "dur_ms"}\'',
    )
    s = sub.add_parser("synth")
    t(s)
    s.add_argument("--rows", type=int, default=10_000)
    s.add_argument("--appends", type=int, default=4)
    s.add_argument("--files-per-append", type=int, default=8)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--days", type=int, default=8)
    s.add_argument("--start", type=int, default=0,
                   help="first clip index (disjoint ranges => unique ids)")
    s = sub.add_parser("compact")
    t(s)
    s.add_argument("--target-file-size", type=int, default=128 * 1024 * 1024)
    s = sub.add_parser("cluster")
    t(s)
    s.add_argument("--columns", default="clip_id,ingest_ts")
    s.add_argument("--curve", default="zorder", choices=["zorder", "hilbert"])
    s = sub.add_parser("expire")
    t(s)
    s.add_argument("--keep-last", type=int, default=1)
    s.add_argument("--gc", action="store_true")
    s.add_argument(
        "--max-ref-age-ms",
        type=int,
        default=None,
        help="drop aux branches/tags older than this (Iceberg "
        "history.expire.max-ref-age-ms); per-ref policies override",
    )
    s = sub.add_parser("rewrite-manifests")
    t(s)
    s.add_argument("--entries-per-manifest", type=int, default=100_000)
    s = sub.add_parser("clone")
    t(s)
    s.add_argument("--dest", required=True,
                   help="root directory for the new zero-copy table")
    s.add_argument("--snapshot", type=int, default=None,
                   help="pin the clone at an older snapshot id")
    s = sub.add_parser("merge-demo")
    t(s)
    s.add_argument("--frac", type=int, default=10)
    s.add_argument("--mode", choices=["cow", "mor"], default="cow")
    s.add_argument("--full-sync", action="store_true",
                   help="WHEN NOT MATCHED BY SOURCE THEN DELETE")
    s.add_argument("--sync-condition", default=None,
                   help="SQL condition scoping the full-sync delete")
    s = sub.add_parser("spj")
    t(s)
    s.add_argument("--other", required=True,
                   help="root of the second bucket-partitioned table")
    s.add_argument("--on", required=True, help="join key column")
    s.add_argument("--how", choices=["inner", "left"], default="inner")
    s = sub.add_parser("scan")
    t(s)
    s.add_argument("--snapshot", type=int, default=None)
    t(sub.add_parser("snapshots"))
    s = sub.add_parser("ingest-wav")
    t(s)
    s.add_argument("--source", required=True,
                   help="directory tree of .wav files")
    s = sub.add_parser("add-files")
    t(s)
    s.add_argument("--source", required=True,
                   help="external parquet file or directory to adopt")
    s.add_argument("--allow-extra-columns", action="store_true")
    s = sub.add_parser("metrics")
    t(s)
    s.add_argument("--sql-filter", default=None,
                   help="SQL predicate over the metrics view, e.g. "
                        "\"operation = 'replace'\"")
    t(sub.add_parser("profile-clips"))
    s = sub.add_parser("export-wds")
    t(s)
    s.add_argument("--out", required=True)
    s.add_argument("--shards", type=int, required=True)
    s.add_argument("--meta-cols", default="sr_hz,dur_ms,codec")
    s.add_argument("--sync", action="store_true",
                   help="incremental: rewrite only key-dirty shards")
    s = sub.add_parser("stream-demo")
    t(s)
    s.add_argument("--batches", type=int, default=3)
    s.add_argument("--rate", type=int, default=500)
    s = sub.add_parser("delete")
    t(s)
    s.add_argument("--where", required=True)
    s.add_argument(
        "--mode", default="cow", choices=["cow", "mor", "mor-pos"]
    )
    s.add_argument("--key", default="clip_id")
    t(sub.add_parser("materialize-deletes"))
    t(sub.add_parser("convert-deletes"))
    t(sub.add_parser("count"))
    s = sub.add_parser("rename-column")
    t(s)
    s.add_argument("old")
    s.add_argument("new")
    s = sub.add_parser("drop-column")
    t(s)
    s.add_argument("column")
    s = sub.add_parser("analyze")
    t(s)
    s.add_argument("--columns", default=None)
    s.add_argument("--k", type=int, default=1024)
    s = sub.add_parser("histogram")
    t(s)
    s.add_argument("columns", help="comma-separated numeric columns")
    s.add_argument("--buckets", type=int, default=64)
    s.add_argument("--exact", action="store_true")
    s = sub.add_parser("sum")
    t(s)
    s.add_argument("columns", help="comma-separated numeric columns")
    s = sub.add_parser("maintain")
    t(s)
    s.add_argument("--dry-run", action="store_true")
    s.add_argument("--gc", action="store_true")
    s.add_argument("--cluster-by", default=None)
    s.add_argument("--expire-keep-last", type=int, default=None)
    s = sub.add_parser("set-identity")
    t(s)
    s.add_argument("column")
    s.add_argument("--start", type=int, default=1)
    s.add_argument("--step", type=int, default=1)
    s.add_argument("--drop", action="store_true",
                   help="remove the identity rule instead")
    s = sub.add_parser("add-constraint")
    t(s)
    s.add_argument("name")
    s.add_argument("expr")
    s = sub.add_parser("drop-constraint")
    t(s)
    s.add_argument("name")
    s = sub.add_parser("rollup")
    t(s)
    s.add_argument("--rollup-root", required=True)
    s = sub.add_parser("sql")
    t(s)
    s.add_argument("--view", default="t")
    s.add_argument("--query", required=True)
    s.add_argument("--snapshot", type=int, default=None)
    s.add_argument("--limit", type=int, default=100)
    s = sub.add_parser("evolve-spec")
    t(s)
    s.add_argument(
        "--spec", required=True,
        help='JSON list, e.g. \'[{"name":"event_date","transform":"identity","source":"event_date"}]\'',
    )
    s = sub.add_parser("update")
    t(s)
    s.add_argument("--set", required=True, help="col = sql_expr")
    s.add_argument("--where", required=True)
    s.add_argument("--mode", default="cow", choices=["cow", "mor"])
    s.add_argument("--key", default="clip_id")
    s = sub.add_parser("curate")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--threshold", type=float, default=0.5)
    s = sub.add_parser("profile")
    t(s)
    s.add_argument("--columns", default=None)
    s = sub.add_parser("rollback")
    t(s)
    s.add_argument("--snapshot", type=int, required=True)
    s = sub.add_parser("branch")
    t(s)
    s.add_argument(
        "action", choices=["create", "tag", "publish", "cherry-pick", "drop"]
    )
    s.add_argument("name")
    s.add_argument("--snapshot", type=int, default=None)
    s.add_argument("--drop", action="store_true")
    s = sub.add_parser("cdc")
    t(s)
    s.add_argument("--from-snapshot", type=int, required=True)
    s.add_argument("--to-snapshot", type=int, default=None)
    s = sub.add_parser("funnel")
    t(s)
    s.add_argument("--steps", required=True,
                   help="comma-separated ordered event types")
    s.add_argument("--user-col", default="user_id")
    s.add_argument("--ts-col", default="ts")
    s.add_argument("--type-col", default="event_type")
    s.add_argument("--within", type=float, default=None,
                   help="per-hop horizon in seconds")
    s.add_argument("--max-periods", type=int, default=12)
    s = sub.add_parser("journeys")
    t(s)
    s.add_argument("--touches", required=True,
                   help="comma-separated touch channels")
    s.add_argument("--conversion", default="purchase")
    s.add_argument("--model", default="last_touch",
                   choices=["last_touch", "first_touch", "linear"])
    s.add_argument("--lookback", type=float, default=None,
                   help="attribution lookback seconds")
    s.add_argument("--k-events", type=int, default=5)
    s.add_argument("--n-paths", type=int, default=20)
    s.add_argument("--bucket-s", type=int, default=3600)
    s.add_argument("--z-threshold", type=float, default=3.0)
    s.add_argument("--user-col", default="user_id")
    s.add_argument("--ts-col", default="ts")
    s.add_argument("--type-col", default="event_type")
    s = sub.add_parser("ab-test")
    t(s)
    s.add_argument("--conversion", default="purchase")
    s.add_argument("--variants", type=int, default=2)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--user-col", default="user_id")
    s.add_argument("--type-col", default="event_type")
    s = sub.add_parser("dedup-clips")
    t(s)
    s.add_argument("--max-hamming", type=int, default=3)
    s = sub.add_parser("set-sort-order")
    t(s)
    s.add_argument("--columns", default=None,
                   help="comma-separated; empty to clear")
    s = sub.add_parser("features")
    t(s)
    s.add_argument("--features-root", required=True)
    s.add_argument("--transform", default="audio_stats")
    s = sub.add_parser("catalog")
    s.add_argument("action",
                   choices=["create", "register", "unregister", "tables",
                            "sql", "maintain-all", "recover-txns"])
    s.add_argument("--catalog", required=True)
    s.add_argument("--dry-run", action="store_true")
    s.add_argument("--name", default=None)
    s.add_argument("--table-root", default=None)
    s.add_argument("--replace", action="store_true")
    s.add_argument("--query", default=None)
    s.add_argument("--limit", type=int, default=100)

    args = p.parse_args()
    {
        "create": cmd_create,
        "synth": cmd_synth,
        "compact": cmd_compact,
        "cluster": cmd_cluster,
        "expire": cmd_expire,
        "rewrite-manifests": cmd_rewrite_manifests,
        "clone": cmd_clone,
        "merge-demo": cmd_merge_demo,
        "spj": cmd_spj,
        "scan": cmd_scan,
        "snapshots": cmd_snapshots,
        "metrics": cmd_metrics,
        "profile-clips": cmd_profile_clips,
        "export-wds": cmd_export_wds,
        "ingest-wav": cmd_ingest_wav,
        "add-files": cmd_add_files,
        "stream-demo": cmd_stream_demo,
        "delete": cmd_delete,
        "materialize-deletes": cmd_materialize_deletes,
        "convert-deletes": cmd_convert_deletes,
        "count": cmd_count,
        "rename-column": cmd_rename_column,
        "drop-column": cmd_drop_column,
        "analyze": cmd_analyze,
        "histogram": cmd_histogram,
        "sum": cmd_sum,
        "maintain": cmd_maintain,
        "set-identity": cmd_set_identity,
        "add-constraint": cmd_add_constraint,
        "drop-constraint": cmd_drop_constraint,
        "rollup": cmd_rollup,
        "sql": cmd_sql,
        "evolve-spec": cmd_evolve_spec,
        "update": cmd_update,
        "curate": cmd_curate,
        "profile": cmd_profile,
        "rollback": cmd_rollback,
        "branch": cmd_branch,
        "cdc": cmd_cdc,
        "funnel": cmd_funnel,
        "journeys": cmd_journeys,
        "ab-test": cmd_ab_test,
        "dedup-clips": cmd_dedup_clips,
        "set-sort-order": cmd_set_sort_order,
        "features": cmd_features,
        "catalog": cmd_catalog,
    }[args.cmd](args)


if __name__ == "__main__":
    main()
