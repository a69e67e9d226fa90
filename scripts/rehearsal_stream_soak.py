#!/usr/bin/env python
"""Long-run streaming soak: 1,000+ batches through the incremental minhash
dedup index, measuring the maintenance quantities the r10 200-batch pytest
bounds — at a scale where the pre-r10 O(n²) behaviors (one ledger line
per batch forever; one live segment per batch forever, each manifest
listing all of them) would be unmissable:

- ledger file size (lines): must end at ONE high-water line;
- live segment count: bounded by compact_every at every sample;
- CUMULATIVE manifest bytes written (the per-publish _segments +
  _batches rewrite cost): must stay O(batches) — the old
  one-line-per-batch ledger alone would write Θ(n²/2) bytes
  (~500k lines summed over 1k publishes vs ~64 live-segment lines);
- read_snapshot wall at checkpoints (flat: bounded file count);
- per-fold wall trajectory (first/mid/last 100 means — compaction
  rewrite cost is amortized state/compact_every per fold, tiny at this
  state size, so the mean must stay flat within noise);
- exactness: final dedup index = docs × bands rows; replay of an early
  batch id is still a no-op after ~15 compactions.

Usage: PYTHONPATH=. python scripts/rehearsal_stream_soak.py [N]
(N batches, default 1000.  REHEARSAL_DOCS_PER_BATCH overrides the
5-docs/batch default, e.g. 1000 docs/batch for the ingest-shaped regime,
to pin fold wall growth and compaction cost against real state sizes.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS_PER_BATCH = int(os.environ.get("REHEARSAL_DOCS_PER_BATCH", "5"))
WORDS = 40
COMPACT_EVERY = 64


def _batch_docs(spark, b: int):
    from pyspark.sql import functions as F

    start = b * DOCS_PER_BATCH
    return spark.range(start, start + DOCS_PER_BATCH).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(WORDS - 1)),
                lambda j: F.md5(
                    F.concat_ws(
                        "|", F.lit("dedup"), F.col("id").cast("string"),
                        j.cast("string"),
                    )
                ).substr(1, 8),
            ),
            " ",
        ).alias("text"),
    )


def _store_stats(root: str) -> dict:
    from tsatool_app_spark.streaming.snapshot_store import current_version

    vdir = os.path.join(root, current_version(root))
    segs = os.path.join(vdir, "_segments")
    batches = os.path.join(vdir, "_batches")
    n_segs = len([e for e in os.listdir(root) if e.startswith("seg-")])
    with open(batches) as f:
        ledger_lines = sum(1 for ln in f if ln.strip())
    manifest_bytes = os.path.getsize(segs) + os.path.getsize(batches)
    return {
        "live_segments": n_segs,
        "ledger_lines": ledger_lines,
        "manifest_bytes": manifest_bytes,
    }


def _soak(spark, n_batches: int, root: str) -> dict:
    from tsatool_app_spark.streaming.dedup_index import (
        incremental_probe_and_update,
    )
    from tsatool_app_spark.streaming.snapshot_store import (
        is_batch_folded,
        read_snapshot,
    )

    shutil.rmtree(root, ignore_errors=True)
    walls: list[float] = []
    samples: list[dict] = []
    cum_manifest = 0
    max_segs = 0
    for b in range(n_batches):
        docs = _batch_docs(spark, b)
        t = time.time()
        incremental_probe_and_update(
            spark, root, docs, batch_id=b, compact_every=COMPACT_EVERY
        )
        walls.append(time.time() - t)
        st = _store_stats(root)
        cum_manifest += st["manifest_bytes"]
        max_segs = max(max_segs, st["live_segments"])
        if (b + 1) % 100 == 0:
            t = time.time()
            snap_rows = read_snapshot(spark, root).count()
            st["read_snapshot_s"] = round(time.time() - t, 2)
            st["snap_rows"] = snap_rows
            st["batch"] = b + 1
            st["cum_manifest_bytes"] = cum_manifest
            samples.append(st)

    mean = lambda xs: round(sum(xs) / len(xs), 3)  # noqa: E731
    rep = {
        "n_batches": n_batches,
        "docs_per_batch": DOCS_PER_BATCH,
        "fold_wall_first100_s": mean(walls[:100]),
        "fold_wall_mid100_s": mean(walls[n_batches // 2 : n_batches // 2 + 100]),
        "fold_wall_last100_s": mean(walls[-100:]),
        "max_live_segments": max_segs,
        "cum_manifest_bytes": cum_manifest,
        "samples": samples,
    }

    final = _store_stats(root)
    assert final["ledger_lines"] == 1, final  # high-water form, O(1)
    assert max_segs <= COMPACT_EVERY + 1, max_segs  # +1 transient merge
    # manifest I/O stayed O(batches): per-publish bytes are bounded by the
    # live-segment list (≤ compact_every lines) + the 1-line ledger.  The
    # pre-r10 ledger alone would have written ~Θ(n²) bytes (mean line
    # count n/2 ≈ 500 per publish); assert the cumulative total is under
    # the linear bound of (compact_every + 2) full-width lines per fold.
    assert cum_manifest <= n_batches * (COMPACT_EVERY + 2) * 40, cum_manifest
    # per-fold wall flat within noise (compaction amortization at this
    # state size is << the per-batch Spark job floor)
    assert rep["fold_wall_last100_s"] <= rep["fold_wall_first100_s"] * 2.5, rep
    # read_snapshot wall flat: bounded file count at every checkpoint
    assert samples[-1]["read_snapshot_s"] <= samples[0]["read_snapshot_s"] * 3 + 1.0

    # exactness + replay protection after many compactions
    snap = read_snapshot(spark, root)
    n_docs = n_batches * DOCS_PER_BATCH
    assert snap.count() == n_docs * 8, snap.count()  # 8 bands/doc
    v_before = read_snapshot(spark, root).count()
    early = 3
    assert is_batch_folded(root, early)
    incremental_probe_and_update(
        spark, root, _batch_docs(spark, early), batch_id=early,
        compact_every=COMPACT_EVERY,
    )
    assert read_snapshot(spark, root).count() == v_before  # replay no-op
    return rep


def main() -> None:
    from tsatool_app_spark.session import get_spark

    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    spark = get_spark("rehearsal-stream-soak")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    report = _soak(spark, n_batches, os.path.join(ROOT, ".scratch", "soak_dedup"))
    report["total_wall_s"] = round(time.time() - t0, 1)
    out_name = f"rehearsal_stream_soak_d{DOCS_PER_BATCH}.json" if DOCS_PER_BATCH != 5 else "rehearsal_stream_soak.json"
    with open(os.path.join(ROOT, ".scratch", out_name), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k != "samples"}))
    spark.stop()
    print("ALL ASSERTS GREEN")


if __name__ == "__main__":
    main()
