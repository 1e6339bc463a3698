"""Streaming daily-ingest near-dup detection — D11's streaming twin
(round 5). Reference parity: ProFET has no streaming surface; this is
the §2.9 twin of the D11/signature-store operators, mandated by the
task's Structured-Streaming axis.

Each micro-batch is one "ingest day": the batch is signatured once,
near-dup pairs TOUCHING the batch are detected against the store's
already-materialized signatures (never re-shingling the corpus —
operators/dedup.incremental_near_dup_pairs), the pairs land under
``pairs_dir/batch=<id>/`` and the batch's signature+text rows are
upserted into the same partitioned signature store the batch D11 flow
uses (operators/dedup.signature_store_ingest).

Exactly-once: foreachBatch replays a batch id after a crash between
"sink ran" and "offset log committed". Every step here is idempotent
under that replay, BY CONSTRUCTION rather than by coordination:

- the S8 signature upsert of the same batch is a no-op state change
  (batch-wins replaces rows with identical content);
- pair detection against the post-upsert store equals the first run's
  result — the batch-wins anti-join removes the batch's own ids from
  the store side, so it cannot see "itself" from the earlier replay
  (pinned by test);
- the per-batch pairs directory is written with mode("overwrite"), so
  a replay rewrites identical content instead of appending duplicates.

A ``_batches/<checkpoint-ns>/<id>.json`` marker (row/pair counts — the
lineage+metrics record the north rule asks of resumable jobs)
additionally short-cuts committed replays to a metadata check. Markers
are namespaced by the checkpoint identity: batch ids are only
meaningful relative to one offset log, so a NEW stream (fresh
checkpoint, new data) over the same store re-ingests from scratch
(idempotent) instead of silently skipping ids an older stream used.

Ingest timestamps are derived deterministically from the batch id
(``base_ts + batch_id days``) so a replay lands in the same store
partitions it originally wrote.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from profet_spark.operators import dedup

__all__ = ["ingest_stream", "committed_batches"]


def _ck_namespace(checkpoint_dir: str) -> str:
    """Markers are NAMESPACED by the checkpoint identity: batch ids are
    only meaningful relative to one offset log. A bare-batch_id marker
    would make a NEW stream (fresh checkpoint, new source data) over an
    existing store silently skip its first batches — batch ids restart
    at 0 — which is permanent data loss, not a replay. Within one
    checkpoint, a replayed id IS the same data, so the skip is safe."""
    return hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]


def _marker_path(store_dir: str, ns: str, batch_id: int) -> str:
    return os.path.join(store_dir, "_batches", ns, f"{batch_id}.json")


def committed_batches(
        store_dir: str, checkpoint_dir: str | None = None,
) -> dict[int, dict] | dict[tuple[str, int], dict]:
    """Lineage/metrics records of committed ingest batches. With
    ``checkpoint_dir``, that stream's records keyed by ``batch_id``.
    Without it, every stream's records keyed by ``(checkpoint_ns,
    batch_id)``: batch ids restart at 0 in each stream, so the id alone
    would let one stream's record overwrite another's."""
    base = os.path.join(store_dir, "_batches")
    out: dict = {}
    if not os.path.isdir(base):
        return out
    spaces = ([_ck_namespace(checkpoint_dir)] if checkpoint_dir
              else sorted(os.listdir(base)))
    for ns in spaces:
        d = os.path.join(base, ns)
        if not os.path.isdir(d):
            continue
        for f in os.listdir(d):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    rec = json.load(fh)
                bid = int(rec["batch_id"])
                out[bid if checkpoint_dir else (ns, bid)] = rec
    return out


def ingest_stream(stream: DataFrame, store_dir: str, pairs_dir: str,
                  checkpoint_dir: str, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = 3, threshold: float = 0.5,
                  max_bucket: int | None = None,
                  base_ts: str = "2025-01-01 00:00:00",
                  available_now: bool = True) -> StreamingQuery:
    """Start the streaming ingest query (one micro-batch = one D11
    ingest day). ``available_now=True`` drains and stops (test/backfill
    mode); restarting from the same ``checkpoint_dir`` resumes from the
    offset log and replayed batches are skipped via the marker (and are
    idempotent even without it — see module docstring)."""
    base = datetime.strptime(base_ts, "%Y-%m-%d %H:%M:%S")
    ns = _ck_namespace(checkpoint_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        marker = _marker_path(store_dir, ns, batch_id)
        if os.path.exists(marker):
            return  # crash-replay of a committed batch (same checkpoint)
        batch_df = batch_df.localCheckpoint(eager=True)
        if not batch_df.take(1):
            return  # empty trigger: nothing ingested, no marker
        spark = batch_df.sparkSession
        ingest_ts = (base + timedelta(days=batch_id)
                     ).strftime("%Y-%m-%d %H:%M:%S")
        # scope the detection's persisted intermediates to this batch:
        # the pairs frame is localCheckpoint-materialized inside
        # signature_store_ingest, so releasing on exit is free — without
        # it a long-running stream accumulates one batch's cached
        # frames per trigger (the VERDICT-r4 hazard, streaming edition)
        with dedup.PersistScope():
            pairs = dedup.signature_store_ingest(
                spark, batch_df, store_dir, ingest_ts=ingest_ts,
                id_col=id_col, text_col=text_col, k=k,
                threshold=threshold, max_bucket=max_bucket)
            out = os.path.join(pairs_dir, f"batch={batch_id}")
            pairs.write.mode("overwrite").parquet(out)
            # count + order-insensitive checksum in ONE agg over the
            # checkpointed pairs (S7's manifest convention: sum of
            # 32-bit-masked row hashes, DECIMAL(38) — exact at any
            # count), so the marker carries verifiable metrics
            from pyspark.sql import functions as F
            h = (F.xxhash64(*sorted(pairs.columns))
                 .bitwiseAND(F.lit(0xFFFFFFFF)))
            m = pairs.agg(
                F.count("*").alias("n"),
                F.sum(h.cast("decimal(38,0)")).alias("ck")).collect()[0]
            n_pairs, pairs_ck = int(m["n"]), int(m["ck"] or 0)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch_id": batch_id, "ingest_ts": ingest_ts,
                       "checkpoint_ns": ns,
                       "rows": batch_df.count(), "n_pairs": n_pairs,
                       "pairs_checksum": pairs_ck,
                       "pairs_path": out}, fh)
        os.replace(tmp, marker)  # atomic: marker exists => batch complete

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
