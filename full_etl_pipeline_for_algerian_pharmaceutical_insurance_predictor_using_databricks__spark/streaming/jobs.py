"""Structured Streaming jobs over the `events` table (SURVEY.md §7a).

One DataFrame query runs on a static or a streaming table: the
windowed aggregates, the click→purchase join and the hourly partials
are `DataFrame → DataFrame` bodies in `operators/events.py`, and the
corpus gate and the enrichment join are bodies here.  A batch entry
applies a body to `load_table(...)`; a stream applies the same body to
`watermarked(readStream)`.  Tests assert batch/stream parity by
draining the stream with Trigger.AvailableNow (`_drain`, the one drain
every job here goes through) and comparing against the body's batch
result.  Only operators Spark cannot run on a stream as written — the
four `applyInPandasWithState` ones below — have their own streaming
algorithm.

Watermarking: `withWatermark("ts", ...)` bounds state for late data —
aggregation state for windows older than (max event time - delay) is
evicted; later-than-watermark events are dropped. This is what makes
the tumbling aggregation runnable forever at 100 TB/day.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.events import (
    SESSION_GAP_SEC,
    hourly_partials,
    top_k_per_window,
    tumbling_counts,
)
from ..schemas import EVENTS
from ..sources import load_table, local_rows_df

WATERMARK_DELAY = "10 minutes"


def watermarked(stream: DataFrame) -> DataFrame:
    """`stream` under the event-time watermark every windowed, joined or
    deduplicated body here runs with (the one place it is applied)."""
    return stream.withWatermark("ts", WATERMARK_DELAY)


def _drain(writer, what: str, checkpoint_dir: str | None = None) -> None:
    """Run a DataStreamWriter whose sink is set with Trigger.AvailableNow
    (process everything available, then stop), waiting up to 300 s.

    `checkpoint_dir=None` uses a throwaway checkpoint — a one-shot
    drain.  A persistent directory gives RESTART CONTINUATION: a later
    drain with the same checkpoint resumes from the committed offsets
    and processes only data that arrived since."""
    if checkpoint_dir is None:
        with tempfile.TemporaryDirectory() as ckpt:
            return _drain(writer, what, ckpt)
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{what} drain exceeded 300s")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events fixture.

    The fixture's physical `ts` type varies (TIMESTAMP(MICROS) vs
    TIMESTAMP(NANOS)); mirror the batch reader's adaptive probe
    (sources.catalog._read_events) so batch/stream parity holds for
    either file: a batch footer read decides the stream schema.  A
    NANOS column is streamed as int64 (legacy flag) and rebuilt at
    microsecond precision; a MICROS column streams as native timestamp
    with no arithmetic.
    """
    # the legacy flag only changes how TIMESTAMP(NANOS) surfaces
    # (int64 instead of a read error); MICROS files are unaffected
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_is_nanos = dict(probe.dtypes).get("ts") == "bigint"
    ts_decl = "ts long" if ts_is_nanos else "ts timestamp"
    schema = (
        f"event_id long, {ts_decl}, user_id long, event_type string, "
        "value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load()
    )
    if ts_is_nanos:
        # integer div matches sources.catalog._read_events — float
        # division loses 1µs precision past double's 2^53 exact range
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def stateful_user_totals_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    lifetime event count + value total, state carried across
    micro-batches (Arrow-batched pandas, not row-at-a-time).

    This is the escape hatch for operators Spark's built-in windows
    can't express (per-key custom accumulators / decaying counters /
    CEP-ish logic). Each update emits the user's new running totals
    (output mode `update`); state is one small tuple per user, so at
    100 TB state size is O(distinct users), not O(events)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, events long, total_value double"
    state_schema = "events long, total_value double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        events, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            events += len(pdf)
            total += float(pdf["value"].sum())
        state.update((events, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "events": [events], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_sessionizer_stream(stream: DataFrame) -> DataFrame:
    """Custom gap-based sessionizer via applyInPandasWithState with an
    EVENT-TIME timeout: per-user state accumulates events; when the
    watermark passes (last event + gap) the state times out and the
    CLOSED session is emitted. This is the general pattern for
    operators `session_window` can't express (e.g. sessions that also
    close on a 'logout' event, decaying counters, CEP steps).

    Emits only timed-out (closed) sessions; sessions still open when
    the stream drains stay in state — correct unbounded-stream
    semantics (batch twin: operators.events.sessionization restricted
    to watermark-closed sessions)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start long, session_end long, events long"
    )
    state_schema = "start long, last long, events long"
    gap_ms = SESSION_GAP_SEC * 1000

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, last, events = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [start // 1000],
                    "session_end": [last // 1000],
                    "events": [events],
                }
            )
            return
        start, last, events = state.get if state.exists else (None, None, 0)
        closed = []
        rows = []
        for pdf in pdfs:
            rows.append(pdf[["ts"]])
        # normalize to ns regardless of the Arrow batch's datetime unit
        ts_ms = (
            pd.concat(rows)["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000
        ).sort_values()  # event-time order within the batch
        for t in ts_ms:
            t = int(t)
            if start is None:
                start, last, events = t, t, 1
            elif t - last > gap_ms:
                closed.append((start, last, events))
                start, last, events = t, t, 1
            else:
                # cross-batch late event (above watermark): it can land
                # before the session's current bounds — extend, never
                # rewind. (A late event that would MERGE two already-
                # split sessions is beyond bounded-state streaming
                # sessionizers; the watermark bounds that error.)
                start = min(start, t)
                last = max(last, t)
                events += 1
        state.update((start, last, events))
        state.setTimeoutTimestamp(last + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [c[0] // 1000 for c in closed],
                    "session_end": [c[1] // 1000 for c in closed],
                    "events": [c[2] for c in closed],
                }
            )

    return (
        watermarked(stream)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def trailing_hour_stream(stream: DataFrame) -> DataFrame:
    """Streaming per-event trailing-hour stats — the stateful twin of
    the batch RANGE frame (`operators.events.trailing_hour_stats`),
    which built-in streaming windows cannot express (they aggregate
    per window, not per EVENT).

    State per user: the event (epoch-second, value-cents) pairs inside
    the trailing hour of the newest processed event — O(events/hour)
    per key, evicted as the frontier advances, never the full history.
    Each arriving event emits its own `(count, exact value sum)` over
    the buffer.

    Ordering contract (the deterministic-parity variant of the batch
    frame): events are processed in (epoch, event_id) order — the
    operator sorts WITHIN each micro-batch, and cross-batch parity
    holds when batches arrive time-ordered (the tested harness; an
    out-of-order split changes which peers an event sees, exactly as
    it would for any as-of-arrival metric).  The batch twin for this
    contract is `RANGE 3600 PRECEDING` split at the current row:
    full-seconds strictly before, plus same-second events up to and
    including this event_id — asserted equal in tests.  Value sums
    accumulate in INTEGER cents, so batch/stream float order can't
    drift."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_id long, user_id long, trailing_events long, "
        "trailing_value double"
    )
    state_schema = "ts array<long>, cents array<long>"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        buf_ts, buf_cents = ([], [])
        if state.exists:
            st = state.get
            buf_ts, buf_cents = list(st[0]), list(st[1])
        frames = [
            pdf[["event_id", "ts", "value"]] for pdf in pdfs if len(pdf)
        ]
        if not frames:
            state.update((buf_ts, buf_cents))
            return
        batch = pd.concat(frames)
        secs = (
            batch["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000
        )
        batch = pd.DataFrame(
            {
                "event_id": batch["event_id"].astype("int64"),
                "t": secs,
                "cents": (batch["value"] * 100).round().astype("int64"),
            }
        ).sort_values(["t", "event_id"])
        out = []
        for eid, t, cents in batch.itertuples(index=False):
            t = int(t)
            while buf_ts and buf_ts[0] < t - 3600:
                buf_ts.pop(0)
                buf_cents.pop(0)
            buf_ts.append(t)
            buf_cents.append(int(cents))
            out.append((int(eid), len(buf_ts), sum(buf_cents)))
        state.update((buf_ts, buf_cents))
        yield pd.DataFrame(
            {
                "event_id": [o[0] for o in out],
                "user_id": [user_id] * len(out),
                "trailing_events": [o[1] for o in out],
                "trailing_value": [o[2] / 100.0 for o in out],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def cep_pattern_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of `operators.events.cep_pattern` — CEP pattern
    counts maintained incrementally per user via
    applyInPandasWithState, the Flink-CEP shape: one user_id shuffle
    routes each key's events to its state, the journey re-sorts on
    (ts, event_id) per batch (so OUT-OF-ORDER arrival across
    micro-batches still yields the exact batch journey), and the regex
    counters re-evaluate on the updated string.  `update` mode's last
    row per user is the batch answer; state is the user's
    (ts, event_id, initial) triple list — the same O(events-per-key)
    the sessionizer twin keeps (production prunes below the
    watermark)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, journey string, "
        "n_conversions long, n_error_recoveries long"
    )
    state_schema = "ts array<long>, eid array<long>, ch array<string>"

    def update(key, pdfs, state: GroupState):
        import re

        import pandas as pd

        (user_id,) = key
        ts_l, eid_l, ch_l = (
            (list(state.get[0]), list(state.get[1]), list(state.get[2]))
            if state.exists
            else ([], [], [])
        )
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_us = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000
            )
            ts_l += [int(t) for t in ts_us]
            eid_l += [int(e) for e in pdf["event_id"]]
            ch_l += [str(t)[:1] for t in pdf["event_type"]]
        state.update((ts_l, eid_l, ch_l))
        order = sorted(range(len(ts_l)), key=lambda i: (ts_l[i], eid_l[i]))
        journey = "".join(ch_l[i] for i in order)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [len(journey)],
                "journey": [journey],
                "n_conversions": [len(re.findall("vc*p", journey))],
                "n_error_recoveries": [len(re.findall("ep", journey))],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def funnel_stage_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of `operators.events.funnel`: per-user ordered
    funnel progress (view → click → purchase, each stage strictly
    after the previous stage's frontier) maintained incrementally via
    applyInPandasWithState.

    Out-of-order arrival ACROSS micro-batches is the hard part: a late
    'view' can LOWER the stage-1 frontier and retroactively validate an
    earlier 'click', so a frontier-only state would under-count.  State
    therefore keeps the user's funnel-relevant (ts, stage) events and
    re-folds the sorted sequence per batch — reach is exact after every
    batch and monotone non-decreasing, so `update` output mode's last
    row per user is the answer.  State is bounded by the user's
    funnel-event count (production prunes below the watermark and
    drops stage-s events once the s-frontier can no longer move); the
    heavy lifting — routing each user's events to one task — is the
    same single user_id shuffle as the batch twin."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.events import FUNNEL_STAGES

    out_schema = "user_id long, stage_reached integer"
    state_schema = "ts array<long>, stage array<integer>"
    stage_of = {name: i for i, name in enumerate(FUNNEL_STAGES)}

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        ts_list, st_list = (
            (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        )
        for pdf in pdfs:
            sub = pdf[pdf["event_type"].isin(stage_of)]
            if len(sub) == 0:
                continue
            # normalize to µs regardless of the Arrow batch's unit —
            # the batch funnel compares microsecond timestamps with a
            # strict '>', so truncating to ms here would merge two
            # same-millisecond stage events the batch twin keeps
            # distinct and break exact parity
            ts_us = sub["ts"].astype("datetime64[ns]").astype("int64") // 1_000
            ts_list += [int(t) for t in ts_us]
            st_list += [stage_of[t] for t in sub["event_type"]]
        state.update((ts_list, st_list))
        reach, frontier = 0, None
        for t, s in sorted(zip(ts_list, st_list)):
            if s == reach and (frontier is None or t > frontier):
                frontier = t
                reach += 1
                if reach == len(FUNNEL_STAGES):
                    break
        yield pd.DataFrame({"user_id": [user_id], "stage_reached": [reach]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def static_enriched_stream(stream: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static broadcast join: enrich each event with a per-user
    dimension row (here a batch-derived user profile).  The static side
    is broadcast to every task and re-resolved per micro-batch — the
    standard pattern for dimension enrichment at any scale (no state,
    no watermark needed for an inner equality join against a static
    relation)."""
    return stream.join(F.broadcast(user_dim), "user_id").select(
        "user_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        "event_type",
        "value",
        "user_events",
        "user_value_rank",
    )


def user_dim_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static dimension for the enrichment join: per-user event count
    and a value-quartile bucket, computed from the batch events table.

    The quartile comes from `approxQuantile` cut points applied as a
    CASE chain — NOT a global `ntile` window, which would move every
    user row to a single task (the unpartitioned-window trap,
    SURVEY §4.3.1); this form stays a map-side expression after the one
    per-user aggregation and scales to any number of users."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("user_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("_total"),
    )
    q1, q2, q3 = per_user.approxQuantile("_total", [0.25, 0.5, 0.75], 0.001)
    rank = (
        F.when(F.col("_total") <= q1, 4)
        .when(F.col("_total") <= q2, 3)
        .when(F.col("_total") <= q3, 2)
        .otherwise(1)
    )
    return per_user.select(
        "user_id", "user_events", rank.alias("user_value_rank")
    )


def transform_with_state_available() -> bool:
    """transformWithStateInPandas depends on protobuf for its
    driver<->worker state protocol; absent in minimal environments."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_max_transform_with_state(stream: DataFrame) -> DataFrame:
    """Spark 4's transformWithStateInPandas (the successor to
    applyInPandasWithState): a StatefulProcessor with typed ValueState
    tracking the running per-event-type max value. Requires the RocksDB
    state-store provider — set on the session by the caller/test:

        spark.sql.streaming.stateStore.providerClass =
            org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider

    Also requires `google.protobuf` (the state-server wire protocol);
    environments without it should use the applyInPandasWithState ops
    above, which cover the same semantics on the stable API. Gate with
    `transform_with_state_available()`."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mx = handle.getValueState("mx", "mx double")

        def handleInputRows(self, key, rows, timerValues):
            mx = self._mx.get()[0] if self._mx.exists() else None
            seen = 0
            for pdf in rows:
                seen += len(pdf)
                m = float(pdf["value"].max())
                if mx is None or m > mx:
                    mx = m
            self._mx.update((mx,))
            yield pd.DataFrame(
                {"event_type": [key[0]], "max_value": [mx], "batch_events": [seen]}
            )

        def close(self) -> None:
            pass

    return (
        stream.groupBy("event_type")
        .transformWithStateInPandas(
            RunningMax(),
            outputStructType="event_type string, max_value double, batch_events long",
            outputMode="Update",
            timeMode="None",
        )
    )


def foreach_batch_to_parquet(
    result: DataFrame, out_dir: str, checkpoint_dir: str | None = None
) -> None:
    """foreachBatch sink: each micro-batch lands as parquet keyed by
    its batch id, written with overwrite so a micro-batch RETRY
    replaces (not duplicates) its directory — that batch-id keyed
    overwrite is what makes the sink idempotent; the same pattern
    drives JDBC upserts / Delta MERGE.

    `checkpoint_dir=None` (the default) uses a throwaway checkpoint —
    a one-shot drain.  Pass a persistent directory to get RESTART
    CONTINUATION: a later call with the same checkpoint resumes from
    the committed offsets and processes only data that arrived since
    (exactly-once across restarts — the production contract)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    _drain(result.writeStream.foreachBatch(write_batch), "foreachBatch", checkpoint_dir)


def documents_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over the documents fixture — the
    continuously-ingested-corpus shape of an LLM data pipeline.
    `max_files_per_trigger=1` turns a multi-file directory into one
    micro-batch per file (how the incremental-registry tests replay an
    arrival sequence)."""
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load()


def corpus_registry_ingest(stream: DataFrame, registry_dir: str) -> None:
    """Incremental exact-dedup REGISTRY: the streaming counterpart of
    `operators.dedup.exact_dedup` for a corpus that arrives batch by
    batch forever.

    Each micro-batch: the batch operator's own body
    (`dedup.exact_fingerprints`: canonical fingerprint, min doc_id per
    fingerprint WITHIN the batch) → left-anti join against every prior batch's registry partition →
    land only never-seen-before fingerprints under `batch=<id>`,
    written with overwrite so a micro-batch RETRY replaces its own
    partition instead of duplicating it (the current batch's partition
    is excluded from the anti-join source for the same reason).

    At 100 TB the registry is a Delta/Iceberg table and the anti-join
    is `MERGE ... WHEN NOT MATCHED INSERT`; the parquet
    partition-per-batch layout here is the identical contract without
    the table-format dependency — the per-batch cost is one shuffle of
    the BATCH (not the registry: the anti-join build side streams from
    disk and the probe side is batch-sized)."""
    import glob

    from ..operators.dedup import exact_fingerprints

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fps = exact_fingerprints(batch_df).drop("copies")
        own = f"{registry_dir}/batch={batch_id}"
        prior = [p for p in glob.glob(f"{registry_dir}/batch=*") if p != own]
        if prior:
            seen = spark.read.parquet(*prior).select("fingerprint")
            fps = fps.join(seen, "fingerprint", "left_anti")
        fps.write.mode("overwrite").parquet(own)

    _drain(stream.writeStream.foreachBatch(write_batch), "registry ingest")


MEMBERSHIP_BUCKETS = 1 << 16


def corpus_registry_ingest_gated(
    stream: DataFrame, registry_dir: str, n_buckets: int = MEMBERSHIP_BUCKETS
) -> None:
    """`corpus_registry_ingest` with a MEMBERSHIP-SKETCH gate: each
    committed batch also lands the distinct hash buckets of its
    fingerprints (`xxhash64 mod n_buckets` — a Bloom filter with k=1
    stored sparsely, ≤ n_buckets rows however big the batch).  The
    next batch probes the prior sketches FIRST:

      definitely-new  = fingerprints whose bucket no sketch contains
                        (sketches have NO false negatives) — these
                        skip the registry anti-join entirely;
      might-be-dup    = the remainder — only THESE anti-join against
                        the registry partitions for the exact verdict.

    False positives cost a verify, never a wrong answer: the committed
    rows are identical to the ungated ingest (parity-tested).  Scale
    point: in steady state almost every arriving row is new, so the
    per-batch cost collapses from one registry-probe per ROW to one
    broadcast semi-join against KB-sized sketches plus an anti-join
    over the small candidate set — the membership gate every
    production MERGE pipeline puts in front of the table.  The probe
    stays declarative (plain joins) — no engine-internal bloom
    expressions — so Catalyst broadcasts and prunes it like any other
    dimension."""
    import glob

    from ..operators.dedup import exact_fingerprints

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fps = exact_fingerprints(batch_df).select(
            "fingerprint",
            "keeper_doc_id",
            F.pmod(F.xxhash64("fingerprint"), F.lit(n_buckets)).alias("bucket"),
        )
        own = f"{registry_dir}/batch={batch_id}"
        own_sketch = f"{registry_dir}/_sketch/batch={batch_id}"
        prior = sorted(
            p for p in glob.glob(f"{registry_dir}/batch=*") if p != own
        )
        prior_sketches = sorted(
            p
            for p in glob.glob(f"{registry_dir}/_sketch/batch=*")
            if p != own_sketch
        )
        # The sketch shortcut is only sound when EVERY prior partition
        # has its sketch (a partition without one could hold any
        # fingerprint) — a registry seeded by the ungated ingest, or a
        # half-written sketch dir, falls back to the exact anti-join
        # for all rows rather than silently skipping dedup.  Compared
        # as batch=<id> SETS, not list lengths (post-review): an orphan
        # sketch plus a sketch-less partition cancel out in a count but
        # not in a subset check.  An orphan sketch alone is harmless —
        # it can only add false-positive candidates, which the exact
        # anti-join verifies anyway — so superset is allowed.
        prior_ids = {p.rsplit("batch=", 1)[1] for p in prior}
        sketch_ids = {p.rsplit("batch=", 1)[1] for p in prior_sketches}
        sketches_complete = prior_ids <= sketch_ids
        if prior and sketches_complete:
            sketch = F.broadcast(
                spark.read.parquet(*prior_sketches).select("bucket").distinct()
            )
            definite_new = fps.join(sketch, "bucket", "left_anti")
            candidates = fps.join(sketch, "bucket", "left_semi")
            seen = spark.read.parquet(*prior).select("fingerprint")
            verified_new = candidates.join(seen, "fingerprint", "left_anti")
            fps = definite_new.unionByName(verified_new)
        elif prior:
            seen = spark.read.parquet(*prior).select("fingerprint")
            fps = fps.join(seen, "fingerprint", "left_anti")
        out = fps.select("fingerprint", "keeper_doc_id", "bucket")
        # one pass writes both the partition and its sketch
        out = out.localCheckpoint()
        out.select("fingerprint", "keeper_doc_id").write.mode(
            "overwrite"
        ).parquet(own)
        out.select("bucket").distinct().write.mode("overwrite").parquet(
            own_sketch
        )

    _drain(stream.writeStream.foreachBatch(write_batch), "gated registry ingest")


def near_dup_registry_ingest(
    stream: DataFrame, registry_dir: str, threshold: float = 0.5
) -> None:
    """Incremental MinHash-LSH NEAR-dup detection for a continuously
    ingested corpus — the streaming counterpart of
    `operators.dedup.minhash_lsh_pairs`.

    The registry keeps, per ingested doc, its LSH band keys
    (`bands/batch=<id>`) and its token-hash array (`arrays/batch=<id>`).
    Each micro-batch:
      1. tokenize + signature + band keys for the batch docs (the same
         deterministic xxhash64 family as the batch operator, so band
         collisions are identical);
      2. candidates = batch bands ⋈ prior-registry bands PLUS the
         batch-internal band self-join — new docs are compared against
         everything ever seen, but never registry-vs-registry (those
         pairs were emitted when the later doc arrived);
      3. exact-verify candidates via `array_intersect` on token arrays
         from either side; emit pairs ≥ threshold under
         `pairs/batch=<id>`;
      4. append the batch's bands/arrays partitions.
    All three writes are batch-id-keyed overwrites → micro-batch retry
    replaces, never duplicates. Per-batch cost is candidate-bound (band
    hash joins), never |registry|² — the LSH invariant, maintained
    incrementally."""
    import glob

    from ..operators import dedup

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # intern tokens to xxhash64 longs BEFORE the signature so the
        # hash family ("mh<i>:" + interned token) is identical to the
        # batch operator's rep-level family — band collisions must match
        # bit for bit or single-drain parity breaks
        tok = dedup._token_sets(batch_df).select(
            "doc_id", F.xxhash64("token").alias("token")
        )
        arrays = tok.groupBy("doc_id").agg(
            F.sort_array(F.collect_set("token")).alias("tokens"),
            F.count("*").alias("set_size"),
        )
        sig = dedup._minhash_signature(tok)
        rows_per_band = dedup.N_HASHES // dedup.N_BANDS
        bands = sig.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("signature")[i].cast("string")
                                    for i in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            )
                        )
                        for b in range(dedup.N_BANDS)
                    ]
                )
            ).alias("band", "band_key"),
        ).localCheckpoint()
        arrays = arrays.localCheckpoint()

        def prior(kind: str):
            own = f"{registry_dir}/{kind}/batch={batch_id}"
            parts = [p for p in glob.glob(f"{registry_dir}/{kind}/batch=*") if p != own]
            return spark.read.parquet(*parts) if parts else None

        b_new = bands.select(
            F.col("doc_id").alias("doc_new"), "band", "band_key"
        )
        internal = (
            b_new.alias("x")
            .join(
                bands.select(
                    F.col("doc_id").alias("doc_old"), "band", "band_key"
                ).alias("y"),
                ["band", "band_key"],
            )
            .filter(F.col("doc_old") < F.col("doc_new"))
        )
        candidates = internal.select("doc_new", "doc_old")
        reg_bands = prior("bands")
        if reg_bands is not None:
            vs_registry = b_new.join(
                reg_bands.select(
                    F.col("doc_id").alias("doc_old"), "band", "band_key"
                ),
                ["band", "band_key"],
            ).filter(F.col("doc_old") != F.col("doc_new"))
            candidates = candidates.unionByName(
                vs_registry.select("doc_new", "doc_old")
            )
        candidates = candidates.distinct().localCheckpoint()

        reg_arrays = prior("arrays")
        all_arrays = (
            arrays if reg_arrays is None else arrays.unionByName(reg_arrays).distinct()
        )
        pairs = dedup._verify_pairs_exact(
            candidates.select(
                F.least("doc_new", "doc_old").alias("doc_a"),
                F.greatest("doc_new", "doc_old").alias("doc_b"),
            ).distinct(),
            all_arrays,
            threshold,
        )
        pairs.write.mode("overwrite").parquet(f"{registry_dir}/pairs/batch={batch_id}")
        bands.select("doc_id", "band", "band_key").write.mode("overwrite").parquet(
            f"{registry_dir}/bands/batch={batch_id}"
        )
        arrays.write.mode("overwrite").parquet(
            f"{registry_dir}/arrays/batch={batch_id}"
        )

    _drain(stream.writeStream.foreachBatch(write_batch), "near-dup registry")


def embeddings_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "embeddings.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over the embeddings fixture — the
    continuously-embedded-corpus shape (documents embed as they land)."""
    schema = "vec_id long, embedding array<float>, label int"
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load()


def ann_registry_ingest(
    stream: DataFrame, registry_dir: str, nlist: int = 16
) -> None:
    """Incremental IVF index REGISTRY: the streaming counterpart of
    `operators.similarity.ann_ivf`'s index build for vectors that
    arrive batch by batch forever.

    The FIRST micro-batch fits the coarse KMeans quantizer and freezes
    the centroid table under `centroids/` — an IVF codebook must stay
    fixed once vectors are assigned against it (re-fitting would
    orphan every prior assignment; production re-trains offline and
    rebuilds, exactly like FAISS).  Every batch then assigns its
    vectors to their nearest frozen centroid via a broadcast
    centroid join (pure fold arithmetic, no UDF) and lands
    (vec_id, embedding, norm, list_id) under `lists/batch=<id>` —
    batch-keyed overwrite, so a micro-batch retry replaces rather than
    duplicates.  `compact_registry` applies to `lists/` unchanged.

    Query-time: `ann_registry_query` probes the registry like
    `ann_ivf` probes its inverted lists — the registry IS the index."""
    import glob as g

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from ..operators.similarity import norm_col, sqdist_col

        spark = batch_df.sparkSession
        cdir = f"{registry_dir}/centroids"
        emb = batch_df.withColumn("norm", norm_col(F.col("embedding")))
        if not g.glob(cdir + "/part-*.parquet"):
            # The codebook is only as representative as the first batch:
            # clamp k so KMeans cannot fail on a small first batch, and
            # refuse an absurdly thin one outright — a 10-vector
            # codebook would silently cap recall for the registry's
            # whole lifetime (re-train offline + rebuild to fix, as
            # with FAISS).
            first_n = emb.count()
            if first_n < 2:
                raise ValueError(
                    "ann_registry_ingest: first micro-batch has "
                    f"{first_n} vector(s); the frozen IVF codebook "
                    "needs a representative first batch (>= 2 vectors, "
                    "ideally >> nlist). Buffer more input before the "
                    "first trigger or lower nlist."
                )
            k_eff = min(nlist, first_n)
            km = KMeans(k=k_eff, seed=7, maxIter=5, featuresCol="vec",
                        predictionCol="list_id")
            model = km.fit(
                emb.withColumn(
                    "vec", array_to_vector(F.col("embedding").cast("array<double>"))
                ).select("vec")
            )
            local_rows_df(spark, 
                [
                    (i, [float(x) for x in c])
                    for i, c in enumerate(model.clusterCenters())
                ],
                "list_id int, centroid array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(cdir)
        centroids = spark.read.parquet(cdir)
        wv = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("list_id"))
        assigned = (
            emb.crossJoin(F.broadcast(centroids))
            .select(
                "vec_id",
                "embedding",
                "norm",
                "list_id",
                sqdist_col(
                    F.col("embedding").cast("array<double>"), F.col("centroid")
                ).alias("dist"),
            )
            .withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding", "norm", "list_id")
        )
        assigned.write.mode("overwrite").parquet(
            f"{registry_dir}/lists/batch={batch_id}"
        )

    _drain(stream.writeStream.foreachBatch(write_batch), "ANN registry ingest")


def ann_registry_query(
    spark: SparkSession,
    registry_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k cosine search against the incrementally-built IVF registry:
    each query row (query_id, q_emb, q_norm) probes its `nprobe`
    nearest frozen centroids, scans only those lists' registry
    partitions via a hash join on list_id, and re-ranks candidates by
    exact cosine — identical physics to `ann_ivf`, with the registry
    parquet standing in for the in-session assignment table."""
    from ..operators.similarity import dot_col, sqdist_col

    centroids = spark.read.parquet(f"{registry_dir}/centroids")
    lists = spark.read.parquet(f"{registry_dir}/lists/batch=*")
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("list_id"))
    probes = F.broadcast(
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_emb",
            "q_norm",
            "list_id",
            sqdist_col(
                F.col("q_emb").cast("array<double>"), F.col("centroid")
            ).alias("dist"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "list_id")
    )
    cand = (
        probes.join(
            lists.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_emb"),
                F.col("norm").alias("c_norm"),
                "list_id",
            ),
            "list_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_col(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cdc_latest_value_ingest(
    stream: DataFrame, target_dir: str, key: str = "user_id"
) -> None:
    """Streaming CDC apply: maintain a Delta table holding each key's
    LATEST row as changes flow in — `foreachBatch` + one MERGE per
    micro-batch, the pattern Delta documents for exactly this.

    Each batch is unioned with the target, every row tagged with the
    side it came from, and one winner kept per key: highest `ts`, then
    the other columns DESC, and on a full tie the target row.  So a
    late-arriving OLDER change can never clobber newer state even when
    micro-batches are not in commit order, several updates to one key
    may share a batch, and a replayed batch finds no winner of its own
    and commits nothing — the exactly-once contract every foreachBatch
    sink here follows.  Only the winners that came from the batch are
    MERGEd (`merge_upsert_delta`); the first batch creates the
    table."""
    from ..sources import deltaproto as dp

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        exists = bool(dp.delta_versions(target_dir))
        rows = batch_df.withColumn("_from_batch", F.lit(True))
        if exists:
            rows = (
                dp.read_delta(spark, target_dir)
                .withColumn("_from_batch", F.lit(False))
                .unionByName(rows)
            )
        tiebreak = [F.desc(c) for c in batch_df.columns if c not in (key, "ts")]
        w = Window.partitionBy(key).orderBy(F.desc("ts"), *tiebreak, "_from_batch")
        winners = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & F.col("_from_batch"))
            .drop("_rn", "_from_batch")
        )
        if exists:
            dp.merge_upsert_delta(spark, winners, target_dir, key)
        else:
            dp.write_delta(winners, target_dir)

    _drain(stream.writeStream.foreachBatch(write_batch), "CDC upsert")


def corpus_curation_gate(docs: DataFrame) -> DataFrame:
    """Stateless ingestion gate for a continuously-arriving corpus: per
    incoming document, quality verdict (Gopher/C4 rules), PII scrub +
    redaction counts, and the salted-hash dataset-split assignment —
    the filter-at-the-door stage every streaming corpus pipeline runs
    before anything lands.

    Map-only (no state, no watermark, no shuffle): one body over the
    documents table or its stream, so batch/stream parity is exact by
    construction and the job scales with source parallelism alone.
    Reuses the SAME expression helpers as the batch operators
    (`text.with_quality`, `curation.with_redaction`,
    `curation.with_split`)."""
    from ..operators.curation import with_redaction, with_split
    from ..operators.text import with_quality

    gated = with_split(with_redaction(with_quality(docs)))
    return gated.select(
        "doc_id",
        "lang",
        "source",
        "verdict",
        "n_redactions",
        "clean_text",
        "split",
    )


def hourly_rollup_registry_ingest(stream: DataFrame, registry_dir: str) -> None:
    """Continuous-aggregate REGISTRY (the hypertable-rollup pattern,
    done append-only): each micro-batch lands its PARTIAL hourly
    aggregates — count and value sum per (hour, event_type), both
    mergeable — under `batch=<id>`, overwrite-per-partition so a
    micro-batch retry replaces its own contribution instead of double
    counting.  No state store, no watermark: late data simply lands as
    another partial for the same hour and merges on read.

    At 100 TB/day this is how long-retention rollups actually run —
    the state-store windowed aggregate (`tumbling_counts`) holds
    only the watermark-recent hours, while this registry accumulates
    partials forever at one batch-sized shuffle per trigger, and the
    read-side merge (`hourly_rollup_read`) touches |hours × types|
    rows, not events."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        hourly_partials(batch_df).write.mode("overwrite").parquet(
            f"{registry_dir}/batch={batch_id}"
        )

    _drain(stream.writeStream.foreachBatch(write_batch), "hourly rollup registry")


def _merge_hourly(partials: DataFrame) -> DataFrame:
    """Re-aggregate `hourly_partials` rows (sums of sums — exact,
    because both metrics are mergeable)."""
    return partials.groupBy("hour_start", "event_type").agg(
        F.sum("events").alias("events"),
        F.sum("value_sum").alias("value_sum"),
    )


def _batch_span(path: str) -> tuple[int, int]:
    """(lo, hi) batch-id span of a `batch=<id>` or `batch=<lo>-<hi>`
    registry dir — the one layout fact every registry reader shares."""
    import re

    ids = [int(x) for x in re.findall(r"\d+", path.rsplit("batch=", 1)[1])]
    return min(ids), max(ids)


def read_registry_asof(
    spark: SparkSession,
    registry_dir: str,
    as_of_batch: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read of a batch-keyed registry AS OF a batch id: only
    `batch=*` dirs whose whole span is ≤ `as_of_batch` participate —
    the registry exactly as it stood after that micro-batch drained
    (None = current state, all batches).

    This is parquet-layout time travel: the batch id doubles as the
    commit version, idempotent per-batch dirs are the immutable
    snapshots.  The granularity caveat is the same one Delta's VACUUM
    has — compaction REWRITES history: a merged `batch=<lo>-<hi>` dir
    can only be read whole, so a snapshot strictly inside a merged
    span no longer exists and raises (callers schedule compaction
    behind their retention horizon, exactly like VACUUM).

    `merge_schema=True` handles SCHEMA EVOLUTION across the registry's
    lifetime: batches written after a producer upgrade may carry new
    columns; the merged read surfaces the union schema with NULLs for
    pre-upgrade rows (parquet mergeSchema — the additive-only
    evolution Delta allows by default).  An as-of read BEFORE the
    upgrade batch naturally returns the old schema: time travel and
    schema history stay consistent for free.
    """
    import glob as g

    def _read(*paths):
        r = spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return r.parquet(*paths)

    spans = sorted(
        ((p, *_batch_span(p)) for p in g.glob(f"{registry_dir}/batch=*")),
        key=lambda t: (t[1], t[2]),
    )
    if not spans:
        raise ValueError(f"read_registry_asof: no batch dirs in {registry_dir}")
    if as_of_batch is None:
        return _read(*[p for p, _, _ in spans])
    inside = [(p, lo, hi) for p, lo, hi in spans if lo <= as_of_batch < hi]
    if inside:
        p, lo, hi = inside[0]
        raise ValueError(
            f"read_registry_asof: snapshot at batch {as_of_batch} was "
            f"compacted away (merged span batch={lo}-{hi}); nearest "
            f"available snapshots are batch {lo - 1} and batch {hi}"
        )
    keep = [p for p, lo, hi in spans if hi <= as_of_batch]
    if not keep:
        raise ValueError(
            f"read_registry_asof: no batches at or before {as_of_batch}"
        )
    return _read(*keep)


def hourly_rollup_read_asof(
    spark: SparkSession, registry_dir: str, as_of_batch: int | None = None
) -> DataFrame:
    """`hourly_rollup_read` against an as-of snapshot: merge-on-read
    over only the partials that existed at `as_of_batch` — what the
    dashboard showed then, reproducible now."""
    return _merge_hourly(read_registry_asof(spark, registry_dir, as_of_batch))


def scrub_registry(
    spark: SparkSession, registry_dir: str, column: str, values
) -> int:
    """Right-to-be-forgotten hard delete across a batch-keyed registry:
    rewrite every `batch=*` dir that contains a row whose `column` is
    in `values`, dropping those rows.  Returns the number of dirs
    rewritten.

    Deletion REWRITES history on purpose: after a scrub, as-of
    snapshot reads (`read_registry_asof`) no longer surface the
    forgotten rows either — the GDPR contract that time travel must
    not resurrect deleted subjects (Delta's DELETE + VACUUM pairing).
    Untouched batch dirs keep their files byte-identical, so the
    rewrite cost is proportional to where the subject actually
    appears, not registry size.

    Crash safety: per dir, write to a tmp, rename the original OUT of
    the `batch=*` namespace (so a half-finished scrub never double-feeds
    the readers' glob), rename tmp in, then drop the old copy; an
    entry-time sweep restores or discards leftovers from a crashed run,
    making reruns idempotent.

    `values` is a driver-side list — forget requests are small by
    nature; a massive purge would use an anti-join against a forget
    table instead (same rewrite loop, different predicate)."""
    return _rewrite_registry(
        spark, registry_dir, F.col(column).isin(list(values))
    )


def expire_registry(
    spark: SparkSession, registry_dir: str, column: str, before
) -> int:
    """Retention policy for batch-keyed registries: hard-delete all
    rows whose `column` (an event-time attribute, e.g. the rollup's
    `hour_start`) is strictly below `before` — the time-based twin of
    `scrub_registry`, completing the registry lifecycle (ingest →
    compact → snapshot → scrub → expire).

    Unlike compaction (which preserves content) this REWRITES history:
    as-of snapshots stop surfacing expired rows, which is the
    retention contract (expired data must be gone, not reachable via
    time travel).  Only batch dirs actually containing out-of-horizon
    rows are rewritten — for an append-mostly time-ordered registry
    that is the oldest few dirs, so steady-state expiry cost is
    bounded by the expiry step, not registry size."""
    return _rewrite_registry(spark, registry_dir, F.col(column) < F.lit(before))


def _rewrite_registry(spark: SparkSession, registry_dir: str, drop) -> int:
    """Shared crash-safe rewrite loop: drop rows matching the `drop`
    Column predicate from every `batch=*` dir that has any, using the
    parked-rename swap + entry-time recovery described in
    `scrub_registry`."""
    import glob as g
    import shutil

    # recover from a crashed rewrite: a parked original whose batch dir
    # is missing went down between the two renames — restore it;
    # leftovers whose batch dir exists are already-published rewrites.
    for old in g.glob(f"{registry_dir}/_scrub_old__*"):
        orig = os.path.join(
            registry_dir, os.path.basename(old)[len("_scrub_old__"):]
        )
        if os.path.isdir(orig):
            shutil.rmtree(old)
        else:
            os.rename(old, orig)
    tmp = f"{registry_dir}/_scrub_tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)

    rewritten = 0
    for p in sorted(g.glob(f"{registry_dir}/batch=*")):
        df = spark.read.parquet(p)
        if df.filter(drop).limit(1).count() == 0:
            continue
        df.filter(~drop).coalesce(1).write.mode("overwrite").parquet(tmp)
        parked = os.path.join(
            registry_dir, "_scrub_old__" + os.path.basename(p)
        )
        os.rename(p, parked)
        os.rename(tmp, p)
        shutil.rmtree(parked)
        rewritten += 1
    return rewritten


def compact_registry(
    spark: SparkSession,
    registry_dir: str,
    group_size: int = 8,
    merge=None,
) -> int:
    """Offline small-files compaction for the batch-partitioned
    registries: rewrite every `group_size` `batch=*` dirs as ONE
    `batch=<lo>-<hi>` dir (the name still matches the ingest functions'
    `batch=*` glob, so anti-joins and merge-on-read are unchanged).

    At real cadence (a micro-batch every few seconds, forever) the
    one-dir-per-batch layout is the classic small-files death — every
    read lists and opens thousands of footers.  This pass restores
    O(K/group_size) dirs with one data file each; run it periodically
    (or cascade it: compacted dirs re-compact).  `merge` optionally
    re-aggregates the merged rows — partial-aggregate registries
    (hourly rollup) shrink row counts too, set-like registries
    (fingerprints, bands, arrays) pass None and just concatenate.

    Not concurrency-safe vs a live ingest into the same dir: the rename
    publishes the merged dir before the sources are removed, so a
    concurrent reader may transiently double-count — schedule it
    between drains (at 100 TB this is a Delta/Iceberg OPTIMIZE, which
    owns that atomicity).  Returns the number of merged dirs written.

    At fixture scale one output file per merged dir is right; a
    size-targeted `repartition` would replace the `coalesce(1)` on a
    real corpus."""
    import glob as g
    import shutil

    # Crash recovery BEFORE compacting, so a rerun after a mid-compact
    # crash is idempotent instead of (a) permanently double-counting
    # rows whose merged dir was published but whose sources were never
    # removed, or (b) dying on os.rename onto the leftover merged dir:
    #   - a stale _compact_tmp is an unpublished partial write → drop it
    #   - any batch dir whose id range is strictly contained in another
    #     batch dir's range is a source the crashed run already merged
    #     (normal operation never leaves both) → drop the source
    tmp = f"{registry_dir}/_compact_tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    dirs = g.glob(f"{registry_dir}/batch=*")
    spans = {p: _batch_span(p) for p in dirs}
    for p, (slo, shi) in spans.items():
        for q, (qlo, qhi) in spans.items():
            if p != q and qlo <= slo and shi <= qhi and (qlo, qhi) != (slo, shi):
                if os.path.isdir(p):
                    shutil.rmtree(p)
                break

    parts = sorted(g.glob(f"{registry_dir}/batch=*"), key=_batch_span)
    written = 0
    for i in range(0, len(parts), group_size):
        chunk = parts[i : i + group_size]
        if len(chunk) < 2:
            continue
        lo = min(_batch_span(p)[0] for p in chunk)
        hi = max(_batch_span(p)[1] for p in chunk)
        df = spark.read.parquet(*chunk)
        if merge is not None:
            df = merge(df)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        # publish-then-delete: rename is atomic per dir; the transient
        # overlap double-counts rather than losing rows on a crash (a
        # rerun repairs it via the containment sweep above)
        dest = f"{registry_dir}/batch={lo}-{hi}"
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        os.rename(tmp, dest)
        for p in chunk:
            shutil.rmtree(p)
        written += 1
    return written


def compact_hourly_rollup_registry(
    spark: SparkSession, registry_dir: str, group_size: int = 8
) -> int:
    """`compact_registry` for the partial-aggregate rollup registry:
    merged partials RE-AGGREGATE (sums of sums — both metrics are
    mergeable), so compaction also shrinks rows, not just files."""
    return compact_registry(spark, registry_dir, group_size, merge=_merge_hourly)


def hll_rollup_registry_ingest(stream: DataFrame, registry_dir: str) -> None:
    """Distinct-count continuous aggregate via MERGEABLE SKETCHES: each
    micro-batch lands its (day, event_type) → DataSketches-HLL partial
    (a binary column) under `batch=<id>`; the read side unions partials
    (`hll_union_agg`) and estimates.  Union of sub-sketches is
    EXACTLY the sketch of the union, so the merged registry answers
    with the same estimate a whole-corpus sketch would — the property
    that makes distinct-count rollups pre-aggregable at 100 TB/day,
    where exact per-day distinct sets are unstorable.  Batch-keyed
    overwrite = retry-idempotent, like every registry here."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_start"),
            "event_type",
        ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
        partial.write.mode("overwrite").parquet(f"{registry_dir}/batch={batch_id}")

    _drain(stream.writeStream.foreachBatch(write_batch), "HLL rollup registry")


def hll_rollup_read(spark: SparkSession, registry_dir: str) -> DataFrame:
    """Merge-on-read over the HLL partial registry: union the sketches
    per key, then estimate."""
    return (
        spark.read.parquet(registry_dir)
        .groupBy("day_start", "event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users")
        )
    )


def compact_hll_rollup_registry(
    spark: SparkSession, registry_dir: str, group_size: int = 8
) -> int:
    """`compact_registry` for the sketch registry: merged partials
    RE-UNION (`hll_union_agg`) — lossless by the sketch-union law, so
    compaction shrinks rows and files without moving any estimate."""

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("day_start", "event_type").agg(
            F.hll_union_agg("sketch").alias("sketch")
        )

    return compact_registry(spark, registry_dir, group_size, merge=merge)


QSKETCH_BINS = 512


def quantile_sketch_registry_ingest(
    stream: DataFrame, registry_dir: str, bins: int = QSKETCH_BINS
) -> None:
    """Quantile continuous aggregate via MERGEABLE HISTOGRAM PARTIALS —
    the percentile counterpart of the HLL registry above (HLL covers
    distinct counts; this covers the one aggregate family that had no
    mergeable streaming path).

    Each micro-batch lands (event_type, bin, cnt) rows under
    `bins/batch=<id>`: a fixed equi-width histogram over a value range
    FROZEN from the first batch (`range/`, like the ANN registry's
    codebook), with bins 0 and bins+1 as underflow/overflow so later
    out-of-range values are counted, never dropped.  Histogram partials
    are the deterministic end of the quantile-sketch spectrum: the
    merge is plain count addition, so merged partials are EXACTLY the
    histogram of the union (a stronger union law than KLL/t-digest,
    whose randomized compaction merges only rank-error-bounded), and
    the hit bin provably CONTAINS the rank-⌈q·n⌉ order statistic, so
    any in-range quantile estimate is within one bin width —
    (hi-lo)/512 — of it (the interpolating `percentile()` can differ
    more in sparse tails, where adjacent order stats gap wider than a
    bin).  The trade is a fixed range:
    a drifting value distribution piles into the overflow bins, where
    KLL adapts; production re-freezes the range offline and rebuilds,
    exactly like the IVF codebook.  Batch-keyed overwrite =
    retry-idempotent; `compact_registry` re-aggregates by bin."""
    import glob as g

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rdir = f"{registry_dir}/range"
        if not g.glob(rdir + "/part-*.parquet"):
            r = batch_df.agg(F.min("value"), F.max("value")).first()
            lo, hi = float(r[0]), float(r[1])
            if hi <= lo:
                hi = lo + 1.0
            local_rows_df(spark, 
                [(lo, hi, bins)], "lo double, hi double, bins int"
            ).coalesce(1).write.mode("overwrite").parquet(rdir)
        rng = spark.read.parquet(rdir).first()
        lo, hi, nb = rng["lo"], rng["hi"], rng["bins"]
        width = (hi - lo) / nb
        bin_col = (
            F.when(F.col("value") < lo, 0)
            .when(F.col("value") >= hi, nb + 1)
            .otherwise((F.floor((F.col("value") - lo) / width) + 1).cast("int"))
        )
        partial = (
            batch_df.select("event_type", bin_col.alias("bin"))
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("cnt"))
        )
        partial.write.mode("overwrite").parquet(
            f"{registry_dir}/bins/batch={batch_id}"
        )

    _drain(stream.writeStream.foreachBatch(write_batch), "quantile sketch registry")


def quantile_sketch_read(
    spark: SparkSession,
    registry_dir: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Merge-on-read quantile estimates: sum the histogram partials per
    (event_type, bin) — the exact union — then invert the CDF with
    linear interpolation inside the hit bin.  All per-key windows, no
    global sort; the merged histogram is ≤ bins+2 rows per key no
    matter how many batches landed."""
    rng = spark.read.parquet(f"{registry_dir}/range").first()
    lo, hi, nb = rng["lo"], rng["hi"], rng["bins"]
    width = (hi - lo) / nb
    merged = (
        spark.read.parquet(f"{registry_dir}/bins")
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    cdf = merged.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "total", F.sum("cnt").over(wtot)
    )
    qdf = F.broadcast(
        local_rows_df(spark, [(float(q),) for q in quantiles], "q double")
    )
    whit = Window.partitionBy("event_type", "q").orderBy("bin")
    hits = (
        cdf.crossJoin(qdf)
        .filter(F.col("cum") >= F.col("q") * F.col("total"))
        .withColumn("rn", F.row_number().over(whit))
        .filter(F.col("rn") == 1)
    )
    # interpolated value inside the hit bin; under/overflow bins clamp
    # to the frozen range edges (their width is unknown by design)
    target = F.col("q") * F.col("total")
    frac = (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    est = (
        F.when(F.col("bin") <= 0, F.lit(lo))
        .when(F.col("bin") >= nb + 1, F.lit(hi))
        .otherwise(F.lit(lo) + (F.col("bin") - 1 + frac) * F.lit(width))
    )
    return hits.select(
        "event_type", "q", est.alias("approx_value"), "total"
    )


def compact_quantile_sketch_registry(
    spark: SparkSession, registry_dir: str, group_size: int = 8
) -> int:
    """`compact_registry` for the histogram-partial registry: merged
    partials RE-SUM by (event_type, bin) — the exact union law, so
    compaction moves no estimate while shrinking rows and files."""

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "bin").agg(F.sum("cnt").alias("cnt"))

    return compact_registry(
        spark, f"{registry_dir}/bins", group_size, merge=merge
    )


def hourly_rollup_read(spark: SparkSession, registry_dir: str) -> DataFrame:
    """Merge-on-read over the partial-aggregate registry: final hourly
    rollup = re-aggregate the partials (sums of sums — exact because
    both metrics are mergeable)."""
    return _merge_hourly(spark.read.parquet(registry_dir))


def hourly_rollup_anomaly_read(
    spark: SparkSession,
    registry_dir: str,
    window_hours: int = 24,
    z_thresh: float = 2.5,
) -> DataFrame:
    """Anomaly detection ON READ over the continuous-aggregate
    registry: merge the count partials (lossless — sums of sums), then
    run the IDENTICAL trailing z-score window as the batch operator
    (`operators.events.score_hourly_counts` — literally the same
    code).  Because count partials merge exactly, the registry's
    answer equals the batch answer over the same events, whatever
    batch boundaries the stream arrived in — parity-tested in
    tests/test_streaming.py.  Scoring cost is |hours × types| rows,
    independent of event volume, which is what makes a
    monitor-every-trigger loop affordable at 100 TB/day."""
    from ..operators.events import score_hourly_counts

    merged = _merge_hourly(spark.read.parquet(registry_dir))
    return score_hourly_counts(merged, window_hours, z_thresh)


def hourly_rollup_gapfill_read(
    spark: SparkSession, registry_dir: str
) -> DataFrame:
    """Gap-filled continuous aggregate ON READ: merge the registry's
    count/sum partials (lossless), then the generic dense-grid + LOCF
    stage (`operators.events.gapfill_locf_counts` — the same code a
    batch rollup would use), so silent hours surface as zeros with the
    last active hour's sum carried forward.  Registry and batch
    answers are exactly equal over the same events, whatever batch
    boundaries the stream arrived in — parity-tested."""
    from ..operators.events import gapfill_locf_counts

    return gapfill_locf_counts(_merge_hourly(spark.read.parquet(registry_dir)))


def dedup_within_watermark_stream(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    dropDuplicatesWithinWatermark keeps ids only while they can still
    collide under the watermark."""
    return watermarked(stream).dropDuplicatesWithinWatermark(["event_id"])


# --------------------------------------------------------------------------
# Incremental dashboard serving — the reference's dashboard aggregates
# (med_q01/q05/q14 shapes) served from a continuously-ingested
# partial-aggregate registry instead of a full batch rescan.
# --------------------------------------------------------------------------


def medications_stream(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str,
    max_files_per_trigger: int | None = 1,
    n_files: int = 4,
) -> DataFrame:
    """Replay the CLEANED medications relation as a file stream: the
    batch frame is split once into `n_files` parquet files under
    `landing_dir` (skipped if already landed), then streamed
    file-per-micro-batch — how the registry tests model a dashboard
    whose source table grows load by load (reference ING:15-27 pulls
    letter pages incrementally; this is the Spark-native replay)."""
    from ..operators.medications import medications

    if not os.path.isdir(landing_dir) or not any(
        f.endswith(".parquet") for f in os.listdir(landing_dir)
    ):
        medications(spark, sf_dir).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(landing_dir)
    schema = spark.read.parquet(landing_dir).schema
    reader = (
        spark.readStream.schema(schema).format("parquet").option(
            "path", landing_dir
        )
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load()


def dashboard_registry_ingest(stream: DataFrame, registry_dir: str) -> None:
    """Continuous dashboard registry: each micro-batch lands its PARTIAL
    aggregates per (form, coverage label) — row count, price sum, and
    non-null-price count, all mergeable — under `batch=<id>`,
    overwrite-per-partition so a retry replaces its own contribution
    (the same idempotence law as `hourly_rollup_registry_ingest`).

    One cube-grained partial serves every read: the overview KPIs
    roll it up globally, the form distribution by form, the class
    balance by label.  Per-trigger cost is one batch-sized aggregate;
    registry size is |forms × labels| rows per batch, independent of
    the medications table's size."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        label = F.when(
            F.col("refundable") == True, "Covered"  # noqa: E712
        ).otherwise("Not Covered")
        partial = batch_df.groupBy(
            F.col("form").alias("form"), label.alias("label")
        ).agg(
            F.count("*").alias("n"),
            F.sum("price").alias("price_sum"),
            F.count("price").alias("price_n"),
            F.min("price").alias("price_min"),
            F.max("price").alias("price_max"),
        )
        partial.write.mode("overwrite").parquet(
            f"{registry_dir}/batch={batch_id}"
        )

    _drain(stream.writeStream.foreachBatch(write_batch), "dashboard registry")


def _dashboard_partials(spark: SparkSession, registry_dir: str) -> DataFrame:
    return spark.read.parquet(registry_dir)


def dashboard_overview_read(spark: SparkSession, registry_dir: str) -> DataFrame:
    """Merge-on-read overview KPIs (the mergeable half of med_q01:
    count/avg/min/max — exact medians are not mergeable and stay on
    the batch path).  Touches |forms × labels × batches| partial rows,
    never the medications table."""
    return _dashboard_partials(spark, registry_dir).agg(
        F.sum("n").cast("bigint").alias("total_medications"),
        F.round(F.sum("price_sum") / F.sum("price_n"), 0)
        .cast("double")
        .alias("avg_price_DA"),
        F.max("price_max").alias("most_expensive_DA"),
    )


def dashboard_form_distribution_read(
    spark: SparkSession, registry_dir: str
) -> DataFrame:
    """med_q05's exact output served from the registry: merge the
    per-form partials (sums of sums / counts of counts), then apply
    the IDENTICAL round/pct/order/limit expressions as the batch
    builder (`dashboard.q05_form_distribution`) — read-side parity is
    pinned in tests/test_streaming.py."""
    from ..functions import pct_of_total

    agg = (
        _dashboard_partials(spark, registry_dir)
        .filter(F.col("form").isNotNull())
        .groupBy("form")
        .agg(
            F.sum("n").cast("bigint").alias("count"),
            F.round(F.sum("price_sum") / F.sum("price_n"), 0)
            .cast("double")
            .alias("avg_price_DA"),
        )
    )
    return (
        agg.select(
            "form",
            "count",
            "avg_price_DA",
            pct_of_total(
                F.col("count"), F.sum("count").over(Window.partitionBy())
            ).alias("market_pct"),
        )
        .orderBy(F.desc("count"), F.asc("form"))
        .limit(8)
    )


def dashboard_class_balance_read(
    spark: SparkSession, registry_dir: str
) -> DataFrame:
    """med_q14's exact output served from the registry (same parity
    law as the form distribution)."""
    from ..functions import pct_of_total

    agg = (
        _dashboard_partials(spark, registry_dir)
        .groupBy("label")
        .agg(F.sum("n").cast("bigint").alias("count"))
    )
    return agg.select(
        "label",
        "count",
        pct_of_total(
            F.col("count"), F.sum("count").over(Window.partitionBy())
        ).alias("percentage"),
    )


def run_available_now(
    result: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming DataFrame to a memory sink with
    Trigger.AvailableNow (process-everything-then-stop) and return the
    materialized table.

    output_mode: "append" emits only rows finalized by the watermark —
    windows/sessions still open when the source drains stay in state
    and are NOT emitted (correct streaming semantics, but a parity
    test against batch must use "complete" to see them)."""
    _drain(
        result.writeStream.format("memory").queryName(name).outputMode(output_mode),
        f"stream {name}",
    )
    return result.sparkSession.table(name)


# --------------------------------------------------------------------------
# Streaming trending top-k (rank inside closed windows)
# --------------------------------------------------------------------------

TRENDING_K = 3


def trending_topk_ingest(stream: DataFrame, out_dir: str, k: int = TRENDING_K) -> None:
    """Per-window trending top-k event types, continuously.

    Ranking is not expressible inside a streaming aggregation, but it
    doesn't need to be: APPEND-mode tumbling counts emit each (window,
    type) row exactly once — when the watermark closes the window — and
    every row of one window closes on the same watermark advance, so
    they arrive in the same micro-batch.  The foreachBatch stage
    therefore sees complete windows and ranks them with an ordinary
    window-partitioned row_number (per-batch data is window-complete by
    construction).  Batch-id-keyed overwrite keeps the sink idempotent
    under micro-batch retry, same contract as the registries above.
    State is the open windows only (bounded by the watermark), and the
    per-batch rank touches ≤ |event types| rows per closed window."""
    counts = tumbling_counts(watermarked(stream))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        top_k_per_window(batch_df, k).write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    _drain(
        counts.writeStream.foreachBatch(write_batch).outputMode("append"),
        "trending",
    )


# --------------------------------------------------------------------------
# Incremental boilerplate-segment registry (mergeable df partials)
# --------------------------------------------------------------------------


def boilerplate_registry_ingest(stream: DataFrame, registry_dir: str) -> None:
    """Streaming twin of `curation.boilerplate_scrub`'s heavy-hitter
    mining for a corpus that arrives batch by batch forever: each
    micro-batch segments its documents and lands PARTIAL per-segment
    document frequencies (distinct docs within the batch) under
    `batch=<id>`, overwrite-per-partition so a retry replaces its own
    contribution.

    The partials merge by SUM because each document arrives in exactly
    one micro-batch (the file-stream contract; re-delivery overwrites
    its own partition rather than double counting) — the same union
    law as the hourly-rollup and HLL registries.  Per-trigger cost is
    one batch-sized segment aggregation; the corpus-wide boilerplate
    set is only ever materialized on READ (`boilerplate_topk_read`),
    touching |distinct segments| rows, never the corpus."""
    from ..operators.curation import with_segments

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            with_segments(batch_df)
            .groupBy("seg_text")
            .agg(F.countDistinct("doc_id").alias("df"))
        )
        partial.write.mode("overwrite").parquet(f"{registry_dir}/batch={batch_id}")

    _drain(stream.writeStream.foreachBatch(write_batch), "boilerplate registry")


def boilerplate_topk_read(
    spark: SparkSession, registry_dir: str, top_k: int | None = None
) -> DataFrame:
    """Merge the registry's df partials and elect the corpus-wide
    boilerplate set: sum per segment, (df DESC, seg_text) total order,
    top-k — exactly the batch miner's election, so a registry built
    from N arrivals equals one batch pass over their union."""
    from ..operators.curation import BOILER_TOP_K

    k = BOILER_TOP_K if top_k is None else top_k
    merged = (
        spark.read.parquet(registry_dir + "/batch=*")
        .groupBy("seg_text")
        .agg(F.sum("df").alias("df"))
    )
    return merged.orderBy(F.col("df").desc(), "seg_text").limit(k)


# --------------------------------------------------------------------------
# Stream-static dimension enrichment
# --------------------------------------------------------------------------


def user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static user dimension for enrichment demos: tier derived
    deterministically from the id (stands in for any slowly-changing
    dim table the stream joins against)."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    tier = (
        F.when(F.col("user_id") % 4 == 0, "platinum")
        .when(F.col("user_id") % 4 == 1, "gold")
        .when(F.col("user_id") % 4 == 2, "silver")
        .otherwise("bronze")
    )
    return users.withColumn("tier", tier)


def enriched_events(ev: DataFrame, dim: DataFrame) -> DataFrame:
    """Dimension enrichment, one body for the events table or its
    stream.  On a stream it is a STREAM-STATIC join: each micro-batch
    joins a broadcast
    dimension — stateless (no watermark, no state store, APPEND-legal),
    because the static side is fixed per trigger; the planner re-reads
    the dim each micro-batch, which is how slowly-changing dims pick up
    updates between triggers.  At 100 TB/day this is the standard
    fact-stream × dim-table enrichment: the dim broadcasts, the stream
    never shuffles.  Row-level on purpose — a downstream watermarked
    agg composes on top; the parity test rolls the landed rows up."""
    return ev.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "tier", "event_type", "value"
    )


# --------------------------------------------------------------------------
# Streaming data-quality gate (expectations on the ingest path)
# --------------------------------------------------------------------------


def dq_gate_stream(
    stream: DataFrame,
    rules: list,
    out_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Expectations ON the ingest stream (the Delta `ON VIOLATION`
    contract without Delta): each micro-batch splits into rows
    satisfying EVERY row rule (landed under `out_dir/batch=<id>`) and
    violating rows (landed under `quarantine_dir/batch=<id>` with a
    `failed_rules` array naming what fired — the triage artifact).
    NULL predicates count as violations, matching the batch auditor.
    Both sinks are batch-id-keyed overwrites, so retries replace their
    own partition; pass + quarantine partition every input row."""
    from ..operators.constraints import RowRule  # noqa: F401 (type docs)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        oks = [
            F.coalesce(r.predicate.cast("boolean"), F.lit(False)).alias(
                f"_ok_{r.name}"
            )
            for r in rules
        ]
        flagged = batch_df.select("*", *oks)
        all_ok = None
        for r in rules:
            c = F.col(f"_ok_{r.name}")
            all_ok = c if all_ok is None else (all_ok & c)
        failed = F.filter(
            F.array(*[
                F.when(~F.col(f"_ok_{r.name}"), F.lit(r.name)) for r in rules
            ]),
            lambda x: x.isNotNull(),
        )
        ok_cols = [f"_ok_{r.name}" for r in rules]
        flagged.filter(all_ok).drop(*ok_cols).write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )
        (
            flagged.filter(~all_ok)
            .withColumn("failed_rules", failed)
            .drop(*ok_cols)
            .write.mode("overwrite")
            .parquet(f"{quarantine_dir}/batch={batch_id}")
        )

    _drain(stream.writeStream.foreachBatch(write_batch), "DQ gate", checkpoint_dir)


def hourly_rollup_seasonal_read(
    spark: SparkSession,
    registry_dir: str,
    z_thresh: float = 2.5,
    min_peers: int = 3,
) -> DataFrame:
    """Seasonal (hour-of-day) anomaly scoring ON READ over the
    continuous-aggregate registry — the leave-one-out twin of
    `hourly_rollup_anomaly_read`, sharing
    `operators.events.score_seasonal_counts` so the registry's answer
    equals the batch operator's over the same events regardless of
    arrival batching (parity-tested)."""
    from ..operators.events import score_seasonal_counts

    merged = _merge_hourly(spark.read.parquet(registry_dir))
    return score_seasonal_counts(merged, z_thresh, min_peers)


# --------------------------------------------------------------------------
# Streaming drift monitor (PSI vs a frozen baseline)
# --------------------------------------------------------------------------


def baseline_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen reference distribution of event types (the training-time
    snapshot a production monitor compares live traffic against)."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    total = per_type.agg(F.sum("n")).first()[0]
    return per_type.select(
        "event_type", (F.col("n") / F.lit(total)).alias("p_base")
    )


def drift_monitor_stream(
    stream: DataFrame, baseline: DataFrame, out_dir: str
) -> None:
    """Per-micro-batch PSI against the frozen baseline: each trigger
    lands (batch_id keyed, idempotent) one row per event type with the
    batch share, baseline share, and PSI term — the live
    model-monitoring feed.  The baseline is a broadcast dim (tiny);
    the per-batch cost is one batch-sized count aggregate.  Types
    absent from either side get a NULL psi_term (the standard PSI
    epsilon-handling decision is left to the consumer, visibly)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = batch_df.groupBy("event_type").agg(F.count("*").alias("n"))
        total = counts.agg(F.sum("n")).first()
        n_total = total[0] if total and total[0] else 0
        if n_total == 0:
            return
        joined = counts.join(F.broadcast(baseline), "event_type", "full")
        p_batch = F.coalesce(F.col("n"), F.lit(0)) / F.lit(n_total)
        psi = F.when(
            (F.col("n") > 0) & (F.col("p_base") > 0),
            (p_batch - F.col("p_base")) * F.log(p_batch / F.col("p_base")),
        )
        out = joined.select(
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("batch_events"),
            p_batch.alias("p_batch"),
            "p_base",
            psi.alias("psi_term"),
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    _drain(stream.writeStream.foreachBatch(write_batch), "drift monitor")


def registry_diff(
    spark: SparkSession,
    registry_dir: str,
    batch_a: int | None,
    batch_b: int | None,
) -> DataFrame:
    """Time-travel DIFF between two as-of snapshots — the read side of
    Delta's change data feed on the batch-keyed registry: full rows
    tagged 'added' (in B, not A) or 'removed' (in A, not B), computed
    with multiset semantics (exceptAll both ways) so duplicate rows
    diff correctly.  Appends between A and B show as pure adds;
    a scrub/expiry rewrite shows its deletions as removes — which is
    how a consumer audits exactly what a GDPR scrub took out."""
    a = read_registry_asof(spark, registry_dir, batch_a)
    b = read_registry_asof(spark, registry_dir, batch_b)
    added = b.exceptAll(a).withColumn("change", F.lit("added"))
    removed = a.exceptAll(b).withColumn("change", F.lit("removed"))
    return added.unionByName(removed)
