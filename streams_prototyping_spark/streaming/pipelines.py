"""The reference's two topologies as Structured Streaming pipelines.

These are the SAME expressions as the batch twins in operators/ —
that's the design: batch twin proves values against the DuckDB oracle,
streaming run proves the stateful plumbing converges to the twin
(tests/test_streaming.py).

Semantics mapping (SURVEY §4.3):
- Kafka Streams' cache-disabled per-record emission (A17,
  Aggregations.java:69)        -> outputMode("update")/( "complete")
- its 24 h state retention, no watermark -> withWatermark bounds state
- its eager leftJoin duplicates (Part C' #2) -> watermark-correct
  one-shot emission (closer to the declared SQL intent)

applyInPandasWithState carries the one semantic the built-ins can't:
KTable-style continuously-updated per-key state with arbitrary update
logic (the reference's hand-rolled CSV-state adders,
StreamStreamJoin.java:107-131).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

WINDOW_S = 30
JOIN_WINDOW_S = 60


def windowed_avg_stream(events: DataFrame, watermark: str = "60 seconds") -> DataFrame:
    """Streaming twin of operators/windowed_agg.windowed_avg
    (reference Aggregations.java topology): project x2/v, 30 s tumbling
    window, sums+count -> averages.

    State: one row per open window; the watermark evicts windows older
    than max(event time) - watermark, so state is O(open windows), not
    O(stream length) — the scale guarantee Kafka Streams gets from
    retention-based expiry.
    """
    projected = events.select(
        F.col("ts"),
        (F.col("value") * 2).alias("x2"),
        F.col("value").alias("v"),
    ).withWatermark("ts", watermark)
    return (
        projected.groupBy(F.window("ts", f"{WINDOW_S} seconds").alias("w"))
        .agg(
            F.sum("x2").alias("sum_x2"),
            F.sum("v").alias("sum_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            (F.col("sum_x2") / F.col("n")).alias("avg_x2"),
            (F.col("sum_v") / F.col("n")).alias("avg_v"),
            F.col("n").alias("n_events"),
        )
    )


def ads_with_clicks_stream(
    impressions: DataFrame, clicks: DataFrame, watermark: str = "120 seconds"
) -> DataFrame:
    """Streaming stream-stream LEFT OUTER join within +/-60 s
    (reference StreamStreamJoin.java:85-95) with dual watermarks.

    Spark keeps both sides in keyed state and probes symmetrically —
    the same symmetric-hash algorithm as Kafka Streams' window stores —
    but emits the null-extended row exactly once, after the watermark
    proves no match can arrive (SURVEY §2 Part C' item 2: the declared
    semantics, without the eager-emission duplicates).

    State scale: watermark + time-range condition bound BOTH buffers to
    (watermark + join window) seconds of data per key — the config that
    keeps a 100 TB/day stream join's state finite.
    """
    imp = impressions.withWatermark("imp_ts", watermark)
    clk = clicks.withWatermark("click_ts", watermark)
    cond = (
        (imp.user_id == clk.c_user_id)
        & (clk.click_ts >= imp.imp_ts - F.expr(f"INTERVAL {JOIN_WINDOW_S} SECONDS"))
        & (clk.click_ts <= imp.imp_ts + F.expr(f"INTERVAL {JOIN_WINDOW_S} SECONDS"))
    )
    return imp.join(clk, cond, "leftOuter").select(
        "impression_id",
        "user_id",
        "ad_id",
        "imp_ts",
        "click_id",
        F.col("click_id").isNotNull().alias("was_clicked"),
    )


_CTR_STATE_SCHEMA = "n_clicked long, n_unclicked long"
_CTR_OUT_SCHEMA = "ad_id long, n_clicked long, n_unclicked long, ctr double"


def _ctr_update(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-ad running (clicked, unclicked) counts — a faithful port of
    the reference's adder semantics (StreamStreamJoin.java:107-131:
    increment one of two counters per record; state was a CSV string,
    here a typed tuple) with the declared final ctr division."""
    if state.exists:
        n_clicked, n_unclicked = state.get
    else:
        n_clicked, n_unclicked = 0, 0
    for pdf in batches:
        clicked = int(pdf["was_clicked"].sum())
        n_clicked += clicked
        n_unclicked += len(pdf) - clicked
    state.update((n_clicked, n_unclicked))
    total = n_clicked + n_unclicked
    yield pd.DataFrame(
        {
            "ad_id": [key[0]],
            "n_clicked": [n_clicked],
            "n_unclicked": [n_unclicked],
            "ctr": [float(n_clicked) / total if total else 0.0],
        }
    )


def ctr_stateful_stream(ads_with_clicks: DataFrame) -> DataFrame:
    """KTable-style continuously-updated CTR per ad via
    applyInPandasWithState — the custom-stateful-operator surface
    (reference's aggregate with named state store, 'click-through-rate'
    StreamStreamJoin.java:130). Emits the refreshed row for every key
    seen in a micro-batch: the closest Spark analog of cache-disabled
    per-record emission (A17).

    Scale note: state is two longs per ad id, partitioned by key across
    executors with RocksDB-backed checkpointing — identical durability
    model to the reference's RocksDB + changelog topic (SURVEY §4.2).
    """
    return ads_with_clicks.groupBy("ad_id").applyInPandasWithState(
        _ctr_update,
        outputStructType=_CTR_OUT_SCHEMA,
        stateStructType=_CTR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CTR_LOG_STATE_SCHEMA = "n_clicked long, n_unclicked long, seq long"
_CTR_LOG_OUT_SCHEMA = (
    "ad_id long, seq long, impression_id long, n_clicked long, n_unclicked long, "
    "ctr double"
)


def _ctr_changelog_update(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-RECORD changelog fold: replays the micro-batch's rows for
    this ad in (imp_ts, impression_id) order and emits the refreshed
    aggregate after EVERY row — exactly the record-at-a-time downstream
    emission the reference gets from disabling the record cache
    (CACHE_MAX_BYTES_BUFFERING_CONFIG=0, Aggregations.java:69; adder at
    StreamStreamJoin.java:107-131 runs per record). `seq` carries across
    micro-batches through the state tuple, so the emitted changelog is
    one unbroken per-key sequence regardless of batch slicing."""
    if state.exists:
        n_clicked, n_unclicked, seq = state.get
    else:
        n_clicked, n_unclicked, seq = 0, 0, 0
    pdf = pd.concat(list(batches))
    out = {
        "ad_id": [],
        "seq": [],
        "impression_id": [],
        "n_clicked": [],
        "n_unclicked": [],
        "ctr": [],
    }
    if len(pdf):
        pdf = pdf.sort_values(["imp_ts", "impression_id"])
        for imp_id, clicked in zip(pdf["impression_id"], pdf["was_clicked"]):
            if bool(clicked):
                n_clicked += 1
            else:
                n_unclicked += 1
            seq += 1
            total = n_clicked + n_unclicked
            out["ad_id"].append(key[0])
            out["seq"].append(seq)
            out["impression_id"].append(int(imp_id))
            out["n_clicked"].append(n_clicked)
            out["n_unclicked"].append(n_unclicked)
            out["ctr"].append(float(n_clicked) / total)
    state.update((n_clicked, n_unclicked, seq))
    yield pd.DataFrame(out)


def ctr_changelog_stream(ads_with_clicks: DataFrame) -> DataFrame:
    """True per-record emission (A17, SURVEY §4.3): one output row per
    INPUT RECORD — the aggregate's changelog — not one row per key per
    micro-batch. This closes the cache-disabled-emission semantic gap
    `ctr_stateful_stream` approximates: downstream sees every
    intermediate aggregate value, in order, exactly as a Kafka Streams
    consumer of the reference's output topic would
    (StreamStreamJoin.java:145 with the cache off).

    The tradeoff (measured in BASELINE.md §emission): output volume is
    O(input records) instead of O(keys x batches), so per-batch update
    mode is what you run at 100 TB unless a downstream consumer
    genuinely needs every intermediate value (e.g. an audit changelog
    or an exactly-replayable materialized view).

    Requires columns: ad_id, impression_id, imp_ts, was_clicked
    (the ads_with_clicks_stream output shape).
    """
    return ads_with_clicks.groupBy("ad_id").applyInPandasWithState(
        _ctr_changelog_update,
        outputStructType=_CTR_LOG_OUT_SCHEMA,
        stateStructType=_CTR_LOG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame, keys: list[str], watermark_col: str, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact deduplication: keep the first record per key,
    with watermark-bounded state (the streaming twin of dedup_exact —
    the first stateful operator any training-data ingest pipeline runs).

    Scale note: dropDuplicatesWithinWatermark keeps one state entry per
    key only until the watermark passes — without it, streaming
    dedup state grows forever. Keys seen again AFTER state expiry
    would re-emit; choose the watermark >= the max duplicate lag.
    """
    return events.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(keys)


def enriched_events_stream(
    events: DataFrame, user_dim: DataFrame, watermark: str = "60 seconds"
) -> DataFrame:
    """Stream-static dimension enrichment: join the event stream to a
    static user dimension, then windowed per-segment aggregation — the
    stream-table join the reference's surface lacks entirely (SURVEY §2
    Part C "no stream-table join") but any production deployment of its
    CTR pipeline needs (enriching ad events with campaign/user dims).

    Scale note: the dim is broadcast, so each micro-batch enriches
    map-side with zero shuffle; the static side is re-resolvable per
    batch (Spark re-reads changed files), which is the poor-man's
    slowly-changing dimension. Only the windowed aggregate keeps state,
    bounded by the watermark.
    """
    enriched = events.withWatermark("ts", watermark).join(
        F.broadcast(user_dim), "user_id"
    )
    return (
        enriched.groupBy(F.window("ts", f"{WINDOW_S} seconds").alias("w"), "segment")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )


def ingest_documents_stream(
    docs: DataFrame,
    *,
    ts_col: str = "ingest_ts",
    min_quality: float = 0.0,
    dedup_watermark: str = "1 hour",
) -> DataFrame:
    """The streaming training-data ingest pipeline, end to end:
    normalize -> quality-filter -> watermarked exact dedup on the
    CANONICAL text. This is the continuous twin of the batch chain
    text_normalize |> quality_score |> dedup_exact — a crawl feed goes
    in, deduplicated training documents come out.

    Stages (all per-micro-batch, narrow until the dedup):
    1. canonical text via norm_text_col (case/punct/whitespace-
       insensitive, so near-copies that byte-exact dedup misses
       collapse to one key);
    2. quality gate: quality_score_col >= min_quality (cheap Catalyst
       expressions — rows are dropped BEFORE any state is touched);
    3. dropDuplicatesWithinWatermark on norm_md5: one state entry per
       distinct canonical text within the watermark horizon — state is
       bounded by (arrival rate x horizon), not corpus size.

    Scale note: the only stateful operator is the dedup; everything
    upstream is scan-speed projection. At 100 TB/day the dedup key is
    a 128-bit hash (32-byte state rows), and the horizon is set to the
    crawler's max re-fetch lag. Cross-horizon (historical) dedup is
    the batch job's responsibility (dedup_incremental's anti-join
    against the fingerprint table) — the stream handles the hot
    window, the batch the archive, which is the standard split.
    """
    from streams_prototyping_spark.functions.text_transform import (
        norm_text_col,
        quality_score_col,
    )

    canon = docs.select(
        "doc_id",
        F.col(ts_col).alias("ingest_ts"),
        norm_text_col("text").alias("norm_text"),
        quality_score_col("text").alias("quality"),
    ).filter(F.col("quality") >= min_quality)
    keyed = canon.select(
        "doc_id",
        "ingest_ts",
        "quality",
        F.md5("norm_text").alias("norm_md5"),
        F.length("norm_text").cast("long").alias("norm_chars"),
    )
    return keyed.withWatermark("ingest_ts", dedup_watermark).dropDuplicatesWithinWatermark(
        ["norm_md5"]
    )


from streams_prototyping_spark.operators.analytics_ext import (  # noqa: E402
    EWMA_ALPHA,
)

_EWMA_STATE_SCHEMA = "ewma double, n long"
_EWMA_OUT_SCHEMA = "user_id long, n_events long, ewma double"


def _ewma_update(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user EWMA recurrence over arrival order (rows sorted by
    event time within each micro-batch; state carries across batches).
    Identical arithmetic to the batch fold in ewma_per_user — one
    multiply-add per observation, seeded by the first."""
    if state.exists:
        ewma, n = state.get
    else:
        ewma, n = None, 0
    pdf = pd.concat(list(batches))
    if len(pdf):
        pdf = pdf.sort_values(["ts", "event_id"])
        for v in pdf["value"].astype(float):
            ewma = v if n == 0 else (1.0 - EWMA_ALPHA) * ewma + EWMA_ALPHA * v
            n += 1
        state.update((float(ewma), int(n)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "ewma": [round(ewma, 6) if ewma is not None else None]}
    )


def ewma_stateful_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ewma_per_user: the recursive smoother as a
    continuously-updated KTable via applyInPandasWithState. Exactly
    ONE state row (ewma, n) per user regardless of history length —
    the unbounded-history case the batch fold's materialized sequence
    cannot cover.

    Scale note: state is two scalars per key; the recurrence is
    order-sensitive, so correctness at scale requires per-key
    event-time-ordered delivery (Kafka key partitioning provides it;
    the file-replay tests provide it by time-sliced chunks). Emission
    is per key per micro-batch (update mode), the same A17
    approximation as ctr_stateful_stream.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_update,
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_ttl_stream(docs: DataFrame, ttl_ms: "int | None" = None) -> DataFrame:
    """Ingest dedup with a STATE-TTL retention horizon — a capability
    only the transformWithState API offers (per-state TTL; the legacy
    applyInPandasWithState can only expire whole keys via manual
    timeout bookkeeping, and the watermark-based dedup_against_store
    needs an event-time column).

    Input: a streaming DataFrame with a `fingerprint` column (e.g.
    md5(normalized text) — the dedup_exact key). Emits one row per
    fingerprint per micro-batch: is_new = this key was NOT seen within
    the TTL horizon (the row a downstream filter keeps), n_copies =
    running duplicate count while the state lives.

    ttl_ms=None keeps state forever (exact ingest dedup); a finite TTL
    bounds state size for unbounded streams — the production tradeoff:
    a document reappearing after `ttl_ms` of silence re-enters as new,
    which is precisely how retention-horizon dedup is specified (and
    RocksDB evicts the expired rows instead of the JVM heap holding
    them). State is ONE long per distinct in-horizon fingerprint.
    Environment note: the transformWithState Python runner speaks
    protobuf, so without google.protobuf the query fails at start()
    (PROBE_CONNECTORS.md §5); construction and plan analysis still work.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DedupProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", "n_seen long", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            n_prev = self._seen.get()[0] if self._seen.exists() else 0
            n_batch = sum(len(p) for p in rows)
            if n_batch:
                self._seen.update((int(n_prev + n_batch),))
                yield pd.DataFrame(
                    {
                        "fingerprint": [key[0]],
                        "is_new": [n_prev == 0],
                        "n_copies": [int(n_prev + n_batch)],
                    }
                )

        def close(self) -> None:
            pass

    return docs.groupBy("fingerprint").transformWithStateInPandas(
        statefulProcessor=DedupProcessor(),
        outputStructType="fingerprint string, is_new boolean, n_copies long",
        outputMode="Update",
        timeMode="None",
    )


def outlier_gate_stream(events: DataFrame, thresholds: DataFrame) -> DataFrame:
    """Online data-quality gate: score each arriving event against a
    BATCH-TRAINED median/MAD threshold table (train offline, score
    online — operators/analytics_ext.mad_thresholds_df is the trainer).

    Scale note: completely STATELESS — the thresholds broadcast to
    every task and each record is scored map-side, so this is the one
    pipeline here with true per-record latency (no state store, no
    watermark, append mode; the reference's cache-off per-record
    emission semantics, A17, fall out for free on a stateless plan).
    """
    from streams_prototyping_spark.operators.analytics_ext import apply_mad_gate

    return apply_mad_gate(events, thresholds).select(
        "event_id", "event_type", "value", "robust_z", "is_outlier"
    )


SESSION_GAP_S = 300  # 5-minute inactivity gap (same as the batch twin)


def session_stats_stream(events: DataFrame, watermark: str = "60 seconds") -> DataFrame:
    """Streaming twin of operators/analytic.events_session_window:
    per-user session windows with a {SESSION_GAP_S}-second inactivity
    gap. Unlike fixed windows, session state MERGES — a late-but-
    in-watermark event can join two open sessions into one, which is
    exactly the stateful behavior the batch gaps-and-islands oracle
    cannot exercise; the convergence test proves the merge logic lands
    on the same final sessions.

    State: one row per OPEN session per user; the watermark closes and
    evicts sessions whose gap has definitively expired, so state is
    O(active users), not O(stream length).
    """
    return (
        events.select("ts", "user_id", "value")
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------- Holt level+trend KTable

_HOLT_STATE_SCHEMA = "l long, b long, n long"
_HOLT_OUT_SCHEMA = (
    "event_type string, n_days long, level double, trend double, "
    "forecast_next double"
)


def _holt_update(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-type Holt recurrence over day order. IDENTICAL fixed-point
    integer arithmetic to the batch fold in holt_smoothing_daily
    (operators/timeseries.py): values arrive as 1e6-scaled bigints,
    Python's // is exact floor division, so the streaming state
    converges bit-for-bit to the batch result — no float tolerance
    needed in the convergence test."""
    from streams_prototyping_spark.operators.timeseries import (
        HOLT_ALPHA_DEN,
        HOLT_ALPHA_NUM,
        HOLT_BETA_DEN,
        HOLT_BETA_NUM,
        HOLT_SCALE,
    )

    if state.exists:
        l, b, n = state.get
    else:
        l, b, n = 0, 0, 0
    pdf = pd.concat(list(batches))
    if len(pdf):
        pdf = pdf.sort_values(["day_epoch"])
        for x in pdf["xs"].astype(int):
            x = int(x)
            if n == 0:
                l, b = x, 0  # level seed; trend seeds on the next obs
            else:
                if n == 1:
                    b = x - l  # trend seed (b1 = x2 - x1), then update
                l_new = (
                    HOLT_ALPHA_NUM * x + (HOLT_ALPHA_DEN - HOLT_ALPHA_NUM) * (l + b)
                ) // HOLT_ALPHA_DEN
                b = (
                    HOLT_BETA_NUM * (l_new - l) + (HOLT_BETA_DEN - HOLT_BETA_NUM) * b
                ) // HOLT_BETA_DEN
                l = l_new
            n += 1
        state.update((int(l), int(b), int(n)))
    scale = float(HOLT_SCALE)
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_days": [n],
            "level": [round(l / scale, 6)],
            "trend": [round(b / scale, 6)],
            "forecast_next": [round((l + b) / scale, 6)],
        }
    )


def holt_stateful_stream(daily: DataFrame) -> DataFrame:
    """Streaming twin of holt_smoothing_daily: the level+trend
    recurrence as a continuously-updated KTable over a stream of
    (event_type, day_epoch, xs) daily-total rows (the windowed-agg
    stage feeds this in a two-stage deployment; tests replay the
    batch daily stage as files).

    State is three integers per event type — the fixed-point design
    makes streaming-vs-batch convergence EXACT, the property float
    state (ewma_stateful_stream) can only assert within tolerance.

    Scale note: one state row per key; per-key day-ordered delivery
    required, as with every recurrence in this file.
    """
    return daily.groupBy("event_type").applyInPandasWithState(
        _holt_update,
        outputStructType=_HOLT_OUT_SCHEMA,
        stateStructType=_HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hll_registers_stream(ids: DataFrame) -> DataFrame:
    """Streaming HyperLogLog: the register table of
    operators/stats_audits.hll_distinct_audit maintained continuously
    over an id stream. The per-row (reg, rho) projection is the SAME
    function the batch audit uses (stats_audits.hll_reg_rho), so the
    streaming registers converge EXACTLY (integer equality) to the
    batch sketch — no tolerance needed.

    Two properties make this the canonical streaming sketch:
    - state is 64 rows FOREVER with no watermark: the key domain is
      fixed (register index) and max() is the sketch's merge operator,
      so state cannot grow with the stream; and
    - no dedup state is needed: register max is idempotent under
      duplicate ids, so the unbounded distinct-tracking problem that
      makes exact streaming COUNT(DISTINCT) unscalable simply never
      appears. This is THE reason pipelines sketch distincts.

    Input: a streaming DataFrame with a string `uid` column.
    """
    from streams_prototyping_spark.operators.stats_audits import hll_reg_rho

    return hll_reg_rho(ids).groupBy("reg").agg(F.max("rho").alias("rho"))


def count_min_cells_stream(tokens: DataFrame) -> DataFrame:
    """Streaming Count-Min sketch: the 4x64 cell table of
    count_min_heavy_hitters maintained continuously over a token
    stream. Cells are the same md5 buckets as the batch sketch
    (corpus_stats._cms_bucket_spark), and streaming counts of
    individual tokens sum to exactly the batch word-count sums, so
    convergence is exact integer equality.

    State: CMS_ROWS*CMS_WIDTH rows forever — like the HLL twin, a
    fixed-domain keyed aggregate whose state size is the sketch
    width, independent of stream length. Estimation (min over rows)
    happens at read time against the materialized cell table.

    Input: a streaming DataFrame with a string `word` column.
    """
    from streams_prototyping_spark.functions.corpus_stats import (
        CMS_ROWS,
        _cms_bucket_spark,
    )

    buckets = F.array(*[F.expr(_cms_bucket_spark(r)) for r in range(CMS_ROWS)])
    return (
        tokens.select(F.posexplode(buckets).alias("r", "bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )


_MARKOV_OUT_SCHEMA = "user_id long, prev_type string, next_type string, n long"
_MARKOV_STATE_SCHEMA = "last_type string"


def _markov_update(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user transition extraction: state is ONLY the last event
    type (one string per user forever); each micro-batch emits the
    transition counts observed inside it, chaining across the batch
    boundary through the saved last type. Rows sort by (ts, event_id)
    — the same unique-id tie-break as the batch operator."""
    last = state.get[0] if state.exists else None
    pdf = pd.concat(list(batches))
    counts: dict[tuple, int] = {}
    # Null event_type would silently diverge from the batch twin: pandas
    # turns it into NaN and str(last) would store the literal 'nan' in
    # state, while the batch lag/groupBy carries SQL NULL. Drop such rows
    # to keep the exact-convergence contract explicit (the batch operator
    # likewise never counts a NULL transition endpoint).
    if len(pdf):
        pdf = pdf[pdf["event_type"].notna()]
    if len(pdf):
        pdf = pdf.sort_values(["ts", "event_id"])
        for t in pdf["event_type"]:
            if last is not None:
                k = (last, t)
                counts[k] = counts.get(k, 0) + 1
            last = t
        state.update((str(last),))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(counts),
            "prev_type": [k[0] for k in counts],
            "next_type": [k[1] for k in counts],
            "n": list(counts.values()),
        }
    )


def markov_transitions_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of event_type_markov's transition extraction:
    per-user last-event state (one string per key — the minimal
    sequence-model state) emitting per-batch transition DELTAS; the
    global matrix is a read-time aggregate over the emitted deltas,
    exactly as the CMS/HLL twins estimate at read time.

    Convergence is exact integer equality: summing all emitted deltas
    per (prev, next) reproduces the batch transition counts for any
    micro-batch slicing, because the chained state carries the
    boundary transition that a per-batch lag() would drop.

    Scale note: state is one string per user; emission is
    O(observed transitions) per batch. Order-sensitivity contract is
    the same as ewma_stateful_stream (per-key event-time-ordered
    delivery).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _markov_update,
        outputStructType=_MARKOV_OUT_SCHEMA,
        stateStructType=_MARKOV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def histogram_bins_stream(cents: DataFrame, bin_cents: int = 5000) -> DataFrame:
    """Streaming twin of histogram_quantile_audit's sketch state:
    equi-width bin counts over a stream of integer-cents values. The
    histogram is the ASSOCIATIVE quantile state — per-batch counts sum
    to the batch histogram for any micro-batch slicing, so read-time
    interpolation gives the same estimates as the batch audit; state is
    O(bins), no watermark needed (same bounded-state argument as the
    CMS/HLL twins).

    Input: a streaming DataFrame with a long `cents` column.
    """
    return (
        cents.select((F.col("cents") / bin_cents).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ivf_assign_stream(vecs: DataFrame, centroids_pdf: "pd.DataFrame") -> DataFrame:
    """Streaming IVF index maintenance: assign each ARRIVING vector to
    its nearest trained centroid — the ingest half of a continuously
    growing vector index (the batch side trains centroids, see
    clustering.trained_centroids; the stream routes new vectors into
    cells so ANN search sees them without retraining).

    Stateless by design: the trained centroid matrix (K x dim — bytes)
    is captured once at pipeline build and shipped to every Python
    worker; each Arrow batch is a pure map, so there is NO streaming
    state to bound — the correct shape for unbounded vector ingest
    (a groupBy-argmin formulation would accrete one state row per
    vec_id forever).

    Input stream schema: (vec_id long, v array<double>). centroids_pdf
    columns: cell (long), cv (list[float]) — e.g.
    ``trained_centroids(spark, sf_dir).toPandas()``.
    """
    import numpy as np

    cpd = centroids_pdf.sort_values("cell")  # argmin first-hit = lowest cell
    C = np.stack(cpd["cv"].to_numpy())
    cells = cpd["cell"].to_numpy()

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy())
            # Sequential per-dimension accumulation — the SAME IEEE
            # double summation order as the batch side's SQL
            # aggregate(..., (acc, x) -> acc + x) fold (clustering.py
            # _SQD_SPARK), so a vector near-equidistant between two
            # cells resolves its argmin identically in both paths
            # (numpy's .sum() pairwise summation could flip such ties
            # and silently break the stream==batch routing contract).
            d = np.zeros((X.shape[0], C.shape[0]))
            for k in range(X.shape[1]):
                diff = X[:, k, None] - C[None, :, k]
                d += diff * diff
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cell": cells[d.argmin(axis=1)]}
            )

    return vecs.mapInPandas(assign, "vec_id long, cell long")


def dim_moments_stream(vecs: DataFrame) -> DataFrame:
    """Streaming twin of the covariance/Mahalanobis per-dimension
    statistics: running (n, decimal-exact sum, decimal-exact sum of
    squares) per embedding dimension over a stream of vectors. The
    moments are the ASSOCIATIVE state behind mean/variance — per-batch
    partial sums merge exactly for any micro-batch slicing, so
    read-time mean/var (and the Mahalanobis gate thresholds) match the
    batch operator bit for bit; state is O(dims), no watermark needed
    (the CMS/HLL/histogram bounded-state argument).

    Input stream schema: (vec_id long, v array<double>).
    """
    x = vecs.select(F.posexplode("v").alias("i", "xi"))
    return x.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("xi"), 8).cast("decimal(28,8)")).alias("s1"),
        F.sum(F.round(F.col("xi") * F.col("xi"), 10).cast("decimal(38,10)")).alias(
            "s2"
        ),
    )


# --------------------------------------------- per-source admission cap

_ADMIT_STATE_SCHEMA = "n_admitted long"
_ADMIT_OUT_SCHEMA = "doc_id long, source string, admit_seq long"


def _admit_update(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-source admission counter: emit rows while the running count
    stays within the cap (carried in every row as `cap` — constant per
    query), then drop. Rows replay in (ingest_ts, doc_id) order within
    the micro-batch; the counter carries across batches, so admission
    is exactly 'first cap documents per source in event-time order'
    for in-order delivery. State: ONE long per source, forever."""
    n = state.get[0] if state.exists else 0
    out = {"doc_id": [], "source": [], "admit_seq": []}
    # A group's micro-batch arrives as MULTIPLE Arrow chunks when it
    # exceeds arrow.maxRecordsPerBatch; sorting per chunk would make
    # the admitted SET depend on the chunking (order decides which rows
    # fit under the cap, unlike the order-insensitive aggregate state
    # fns above). Materialize the whole group, sort once, cap once.
    pdfs = [p for p in batches if len(p)]
    if pdfs:
        pdf = pd.concat(pdfs).sort_values(["ingest_ts", "doc_id"])
        cap = int(pdf["cap"].iloc[0])
        for doc_id in pdf["doc_id"]:
            if n >= cap:
                continue  # over cap: dropped; counter stays at cap
            n += 1
            out["doc_id"].append(int(doc_id))
            out["source"].append(key[0])
            out["admit_seq"].append(n)
    state.update((int(n),))
    yield pd.DataFrame(out)


def source_cap_admission_stream(docs: DataFrame, cap: int = 256) -> DataFrame:
    """Streaming per-source admission cap — the ingest-time twin of the
    batch source_doc_cap (functions/curation.py): admit at most ``cap``
    documents per source into the hot window, in arrival (event-time)
    order, drop the rest. A batch job can re-rank by quality at
    leisure; the STREAM's job is bounding what any one domain can push
    into the pipeline right now (crawler politeness / firehose-abuse
    control) — so the streaming semantics is first-K-by-event-time, not
    best-K-by-quality, and the convergence test pins exactly that
    against a batch row_number twin.

    State: one counter per source (O(sources) longs, no watermark
    needed — the counter IS the bound). Emission: admitted rows only,
    with their per-source admission sequence number.

    Input schema: (doc_id long, source string, ingest_ts timestamp).
    """
    keyed = docs.select(
        "doc_id", "source", "ingest_ts", F.lit(cap).alias("cap")
    )
    return keyed.groupBy("source").applyInPandasWithState(
        _admit_update,
        outputStructType=_ADMIT_OUT_SCHEMA,
        stateStructType=_ADMIT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------ per-source TOKEN budget cap

_TOKCAP_STATE_SCHEMA = "cum_tokens long"
_TOKCAP_OUT_SCHEMA = (
    "doc_id long, source string, n_tokens long, cum_tokens long"
)
_TOKCAP_WIN_OUT_SCHEMA = (
    "doc_id long, source string, win_start long, n_tokens long, cum_tokens long"
)


def _token_cap_update(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key token budget: the counter accumulates EVERY arriving
    doc's tokens in (ingest_ts, doc_id) order and a doc is admitted iff
    the running total stays within the budget — so the admitted set is
    the exact PREFIX a batch cumsum-filter computes, and the counter
    carry makes that hold across micro-batches. State: ONE long.
    Whole-group materialize-then-sort (not per chunk): admission order
    decides the output set, and a large group spans Arrow chunks."""
    if state.hasTimedOut:
        state.remove()  # windowed key past its lateness horizon
        yield pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "source": pd.Series([], dtype="object"),
                "n_tokens": pd.Series([], dtype="int64"),
                "cum_tokens": pd.Series([], dtype="int64"),
            }
        )
        return
    cum = state.get[0] if state.exists else 0
    out = {"doc_id": [], "source": [], "n_tokens": [], "cum_tokens": []}
    pdfs = [p for p in batches if len(p)]
    budget = None
    timeout_at = None
    if pdfs:
        pdf = pd.concat(pdfs).sort_values(["ingest_ts", "doc_id"])
        budget = int(pdf["budget"].iloc[0])
        if "timeout_at" in pdf.columns:
            timeout_at = int(pdf["timeout_at"].iloc[0])
        for doc_id, n_tokens in zip(pdf["doc_id"], pdf["n_tokens"]):
            cum += int(n_tokens)
            if cum > budget:
                continue  # over budget: dropped; counter keeps counting
            out["doc_id"].append(int(doc_id))
            out["source"].append(key[0])
            out["n_tokens"].append(int(n_tokens))
            out["cum_tokens"].append(cum)
    state.update((int(cum),))
    if timeout_at is not None:
        state.setTimeoutTimestamp(timeout_at)
    yield pd.DataFrame(
        {
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "source": pd.Series(out["source"], dtype="object"),
            "n_tokens": pd.Series(out["n_tokens"], dtype="int64"),
            "cum_tokens": pd.Series(out["cum_tokens"], dtype="int64"),
        }
    )


def token_cap_admission_stream(
    docs: DataFrame,
    budget: int = 2048,
    window_seconds: Optional[int] = None,
    lateness_seconds: int = 600,
) -> DataFrame:
    """Streaming per-source TOKEN budget — the rate-control twin of the
    batch source_token_cap (functions/curation.py) and the tokens/sec
    unit of source_cap_admission_stream's doc cap (VERDICT r7 item 5):
    admit documents while the source's cumulative token inflow stays
    within ``budget``, in event-time order, drop the rest. The counter
    counts ALL arriving tokens (admitted or not), so the admitted set
    is a monotone prefix — exactly reproducible by a batch cumsum
    (convergence-tested), and a source that crossed its budget stays
    closed without per-doc state.

    Two modes:
    - window_seconds=None — lifetime budget per source. State:
      O(sources) longs, no watermark needed (the counter IS the bound).
    - window_seconds=W — budget per (source, W-second event-time
      window): tokens-per-window rate limiting. State: O(sources x
      live windows); expired windows are dropped by an event-time
      timeout at window end + ``lateness_seconds`` (requires the input
      to carry a watermark, which this function sets).

    Input schema: (doc_id long, source string, ingest_ts timestamp,
    n_tokens long).
    """
    keyed = docs.withColumn("budget", F.lit(int(budget)))
    if window_seconds is None:
        return keyed.groupBy("source").applyInPandasWithState(
            _token_cap_update,
            outputStructType=_TOKCAP_OUT_SCHEMA,
            stateStructType=_TOKCAP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    win = int(window_seconds)
    keyed = (
        keyed.withWatermark("ingest_ts", f"{int(lateness_seconds)} seconds")
        .withColumn(
            "win_start",
            (F.unix_timestamp("ingest_ts") - F.unix_timestamp("ingest_ts") % win),
        )
        .withColumn(
            # state eviction point: window end + lateness, in epoch MS
            # (setTimeoutTimestamp takes milliseconds)
            "timeout_at",
            (F.col("win_start") + win + int(lateness_seconds)) * 1000,
        )
    )

    def _win_update(key, batches, state):
        for pdf in _token_cap_update((key[0],), batches, state):
            pdf = pdf.copy()
            pdf["win_start"] = pd.Series(
                [int(key[1])] * len(pdf), dtype="int64"
            )
            yield pdf[
                ["doc_id", "source", "win_start", "n_tokens", "cum_tokens"]
            ]

    return keyed.groupBy("source", "win_start").applyInPandasWithState(
        _win_update,
        outputStructType=_TOKCAP_WIN_OUT_SCHEMA,
        stateStructType=_TOKCAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
