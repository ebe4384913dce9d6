"""Structured Streaming surface (SURVEY §2.9).

The reference is logically a stream program (lazy tick source, incremental
aggregators, bounded ring-buffer state, a 600-tick lookahead label). This
module provides the streaming equivalents of the batch operators:

  * streaming_bars   — tumbling M1/M5 OHLC with event-time watermark; a bar
    is only FINAL once the watermark passes its end, mirroring the
    batch rule "a bar completes when a later tick arrives"
    (BarAggregator.cs:39-56) with bounded state.
  * streaming_bars_stateful — applyInPandasWithState per-source
    BarAggregator: carries the previous bid and the open partial bar across
    micro-batches, so bars complete EXACTLY when a later tick arrives
    (BarAggregator.cs:39-56 — not watermark-based) and the up/down tick
    direction survives bar AND batch boundaries (BarAggregator.cs:21-23,
    41-47). Replaying a bounded input yields bit-identical bars to the batch
    path including the direction columns (tests/test_streaming.py).
  * streaming_sessionize — gap-based sessions via F.session_window.
  * streaming_features_stateful — the FULL 148-feature kernel as a stateful
    stream: per source the state carries the last-bid, the open partial
    M1/M5 bars, and a 620-bar HALO tail of completed M1/M5 bars (the same
    bound the halo-chunked batch path uses, engine/skew.py) — each
    micro-batch completes bars incrementally and runs the batch feature
    kernel (engine/features.py::compute_features_pdf) over tail+new with
    global index offsets, emitting exactly the new emissions. Replay parity
    with the batch builder is exact (tests/test_streaming.py). No foreachBatch,
    no snapshot table: state is the trailing window.

All operators use event time only — no wall clock — so replaying a bounded
input through the stream gives bit-identical bars to the batch path
(tests/test_streaming.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

US_PER_MIN = 60_000_000

STREAM_BAR_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("bar_ts_us", LongType()),
    StructField("open", DoubleType()),
    StructField("high", DoubleType()),
    StructField("low", DoubleType()),
    StructField("close", DoubleType()),
    StructField("tick_volume", LongType()),
    StructField("up", LongType()),
    StructField("down", LongType()),
    StructField("avg_spread", DoubleType()),
    StructField("max_spread", DoubleType()),
    StructField("min_spread", DoubleType()),
])

# last_bid (NaN = no previous tick yet) + the open partial bar (bar_ts = -1 =
# none): bounded state, one row per source, exactly BarAggregator.cs fields
_STATE_SCHEMA = StructType([
    StructField("last_bid", DoubleType()),
    StructField("bar_ts", LongType()),
    StructField("open", DoubleType()),
    StructField("high", DoubleType()),
    StructField("low", DoubleType()),
    StructField("close", DoubleType()),
    StructField("vol", LongType()),
    StructField("up", LongType()),
    StructField("down", LongType()),
    StructField("sp_sum", DoubleType()),
    StructField("sp_max", DoubleType()),
    StructField("sp_min", DoubleType()),
])

_OUT_COLS = [f.name for f in STREAM_BAR_SCHEMA.fields]


def _tick_batch(pdfs):
    """One source's micro-batch as (us, bid, ask) arrays in event order, or
    None when it has no ticks. The sort is stable: within-batch arrival
    order must break ts ties, matching the batch path's file-order seq
    (quicksort would permute them)."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    pdf = pd.concat(chunks).sort_values("ts", kind="stable")
    return (pdf["ts"].to_numpy("datetime64[us]").astype("int64"),
            pdf["bid"].to_numpy("float64"), pdf["ask"].to_numpy("float64"))


def _tick_direction(bid, last_bid):
    """(up, down) int64 flags of each tick against the previous tick's bid,
    across bar and micro-batch boundaries (BarAggregator.cs:21-23, 41-47);
    last_bid NaN = no previous tick yet."""
    prev = np.concatenate([[last_bid], bid[:-1]])
    finite_prev = ~np.isnan(prev)
    return ((finite_prev & (bid > prev)).astype("int64"),
            (finite_prev & (bid < prev)).astype("int64"))


def streaming_bars_stateful(ticks: DataFrame, tf_minutes: int) -> DataFrame:
    """Per-source incremental bar aggregation with custom state
    (applyInPandasWithState): a bar is emitted the moment a later tick
    arrives — the reference's completion rule — and the up/down direction
    uses the previous tick's bid across bar and micro-batch boundaries.
    Assumes per-source event-order delivery (the reference reads a
    sequential tick file); within a micro-batch rows are sorted by ts.
    Use outputMode('append')."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    tf_us = tf_minutes * US_PER_MIN

    def fn(key, pdfs, state: GroupState):
        batch = _tick_batch(pdfs)
        if batch is None:
            return
        us, bid, ask = batch
        if state.exists:
            st = state.get
            last_bid = st[0]
            # _accumulate_tf's 12th carry field (first_seq) is not kept:
            # these bars carry no completion seq
            carry = None if st[1] < 0 else list(st[1:]) + [0]
        else:
            last_bid, carry = float("nan"), None
        up, down = _tick_direction(bid, last_bid)
        done, new_carry = _accumulate_tf(us - us % tf_us, bid, ask - bid,
                                         up, down, 0, carry)
        state.update(tuple([float(bid[-1])] + new_carry[:11]))
        if done:
            yield pd.DataFrame(
                [[key[0], *g[:8], g[8] / g[5], g[9], g[10]] for g in done],
                columns=_OUT_COLS)

    return (ticks.groupBy("source")
            .applyInPandasWithState(fn, STREAM_BAR_SCHEMA, _STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


def streaming_bars(ticks: DataFrame, tf_minutes: int,
                   watermark: str = "2 minutes") -> DataFrame:
    """ticks: a *streaming* DataFrame (source, ts, bid, ask). Emits completed
    bars in append mode once the watermark passes the window end.

    Note: up/down tick volume needs the previous tick's bid, which is a
    cross-row dependency not expressible in a pure streaming aggregation —
    the streaming surface emits OHLC/spread/volume; the direction columns
    come from the batch/foreachBatch path."""
    spread = F.col("ask") - F.col("bid")
    return (
        ticks
        .withWatermark("ts", watermark)
        .groupBy("source", F.window("ts", f"{tf_minutes} minutes").alias("w"))
        .agg(F.min_by("bid", "ts").alias("open"),
             F.max("bid").alias("high"),
             F.min("bid").alias("low"),
             F.max_by("bid", "ts").alias("close"),
             F.count(F.lit(1)).alias("tick_volume"),
             F.avg(spread).alias("avg_spread"),
             F.max(spread).alias("max_spread"),
             F.min(spread).alias("min_spread"))
        .select("source",
                F.unix_micros(F.col("w.start").cast("timestamp")).alias("bar_ts_us"),
                "open", "high", "low", "close", "tick_volume",
                "avg_spread", "max_spread", "min_spread")
    )


LABEL_OUT_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("ts_us", LongType()),
    StructField("label", LongType()),
])

# bar clock (last bar_ts, completed-bar count), global tick counter, the
# bounded tick tail (from the oldest unresolved emission onward), and the
# pending emissions (bar ts + entry-tick seq). Buffer length is bounded by
# 600 + emission spacing — the streaming analogue of the reference's
# bounded lookahead (Program.cs:260-263).
_LABEL_STATE_SCHEMA = StructType([
    StructField("last_bar_ts", LongType()),
    StructField("bars_done", LongType()),
    StructField("tick_count", LongType()),
    StructField("buf_start", LongType()),
    StructField("buf_bid", ArrayType(DoubleType())),
    StructField("buf_ask", ArrayType(DoubleType())),
    StructField("pend_ts", ArrayType(LongType())),
    StructField("pend_seq", ArrayType(LongType())),
])


def streaming_labels_stateful(ticks: DataFrame, tf_minutes: int = 1,
                              warmup_bars: int = 260,
                              label_cfg=None) -> DataFrame:
    """Streaming 600-tick-lookahead labels (SURVEY §2.9.4): per source the
    state carries the bar clock, the pending emissions (a bar completion past
    warm-up), and a bounded tick tail; an emission's label is finalized —
    with the SAME vectorized kernel as the batch path — the moment 600 ticks
    exist after its entry tick. Emissions whose full window never arrives
    stay pending (a bounded stream's tail is finished by the batch path; the
    batch computes those with a truncated window, which a stream cannot know
    is final). Use outputMode('append')."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from ..oracle.labels import LabelConfig
    from .labels import compute_labels

    cfg = label_cfg or LabelConfig()
    tf_us = tf_minutes * US_PER_MIN
    need = cfg.max_future_ticks

    def fn(key, pdfs, state: GroupState):
        batch = _tick_batch(pdfs)
        if batch is None:
            return
        us, bid, ask = batch
        bar_ts = us - us % tf_us
        n = len(bid)

        if state.exists:
            (last_bar_ts, bars_done, tick_count, buf_start,
             buf_bid, buf_ask, pend_ts, pend_seq) = state.get
            buf_bid, buf_ask = list(buf_bid), list(buf_ask)
            pend_ts, pend_seq = list(pend_ts), list(pend_seq)
        else:
            last_bar_ts, bars_done, tick_count, buf_start = -1, 0, 0, 0
            buf_bid, buf_ask, pend_ts, pend_seq = [], [], [], []

        # bar completions: a tick whose bar_ts differs from the previous
        # tick's completes the previous bar (BarAggregator.cs:39-56)
        prev_bts = np.concatenate([[last_bar_ts], bar_ts[:-1]])
        for i in np.flatnonzero((bar_ts != prev_bts) & (prev_bts >= 0)):
            bar_index = bars_done
            bars_done += 1
            if bar_index >= warmup_bars:
                pend_ts.append(int(prev_bts[i]))
                pend_seq.append(int(tick_count + i))   # entry = completing tick
        last_bar_ts = int(bar_ts[-1])

        buf_bid.extend(bid.tolist())
        buf_ask.extend(ask.tolist())
        tick_count += n

        # finalize every pending emission with a full forward window
        resolved = [j for j, s in enumerate(pend_seq)
                    if tick_count - 1 - s >= need]
        out = None
        if resolved:
            bb = np.asarray(buf_bid)
            ba = np.asarray(buf_ask)
            cs = np.asarray([pend_seq[j] - buf_start for j in resolved],
                            dtype="int64")
            labels = compute_labels(cs, bb, ba, cfg)
            out = pd.DataFrame({
                "source": key[0],
                "ts_us": np.asarray([pend_ts[j] for j in resolved], "int64"),
                "label": labels.astype("int64")})
            keep = [j for j in range(len(pend_seq)) if j not in set(resolved)]
            pend_ts = [pend_ts[j] for j in keep]
            pend_seq = [pend_seq[j] for j in keep]

        # trim the tail to the oldest unresolved entry (bounded state)
        new_start = min(pend_seq) if pend_seq else tick_count
        cut = new_start - buf_start
        if cut > 0:
            buf_bid = buf_bid[cut:]
            buf_ask = buf_ask[cut:]
            buf_start = new_start

        state.update((last_bar_ts, bars_done, tick_count, buf_start,
                      buf_bid, buf_ask, pend_ts, pend_seq))
        if out is not None:
            yield out

    return (ticks.groupBy("source")
            .applyInPandasWithState(fn, LABEL_OUT_SCHEMA, _LABEL_STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


# --- stateful streaming feature kernel -------------------------------------

FEATURE_HALO = 620            # = engine/skew.py M1_HALO / M5_HALO

# per-timeframe tail: 10 parallel arrays (completed-bar columns) + the open
# partial bar split into typed arrays (d: open/high/low/close/sp_sum/sp_max/
# sp_min; l: bar_ts/vol/up/down/first_seq; empty = no partial yet)
def _tf_state_fields(p: str) -> list[StructField]:
    return [
        StructField(f"{p}_ts", ArrayType(LongType())),
        StructField(f"{p}_open", ArrayType(DoubleType())),
        StructField(f"{p}_high", ArrayType(DoubleType())),
        StructField(f"{p}_low", ArrayType(DoubleType())),
        StructField(f"{p}_close", ArrayType(DoubleType())),
        StructField(f"{p}_vol", ArrayType(LongType())),
        StructField(f"{p}_up", ArrayType(LongType())),
        StructField(f"{p}_down", ArrayType(LongType())),
        StructField(f"{p}_spread", ArrayType(DoubleType())),
        StructField(f"{p}_comp", ArrayType(LongType())),
        StructField(f"{p}_done", LongType()),
        StructField(f"{p}_tail_start", LongType()),
        StructField(f"{p}p_d", ArrayType(DoubleType())),
        StructField(f"{p}p_l", ArrayType(LongType())),
    ]


_FEAT_STATE_SCHEMA = StructType(
    [StructField("last_bid", DoubleType()),
     StructField("tick_count", LongType())]
    + _tf_state_fields("m1") + _tf_state_fields("m5"))

_TAIL_COLS = ["ts", "open", "high", "low", "close", "vol", "up", "down",
              "spread", "comp"]


def _accumulate_tf(bar_ts, bid, spread, up_t, down_t, seq0, carry):
    """Vectorized per-micro-batch bar accumulation for one timeframe.
    carry/new_carry: (bar_ts, open, high, low, close, vol, up, down, sp_sum,
    sp_max, sp_min, first_seq) or None. Returns (completed rows as that
    12-tuple + completion_seq appended, new_carry)."""
    starts = np.flatnonzero(np.concatenate([[True], bar_ts[1:] != bar_ts[:-1]]))
    ends = np.append(starts[1:], len(bid))
    groups = []
    for s, e in zip(starts, ends):
        groups.append([int(bar_ts[s]), float(bid[s]),
                       float(bid[s:e].max()), float(bid[s:e].min()),
                       float(bid[e - 1]), int(e - s),
                       int(up_t[s:e].sum()), int(down_t[s:e].sum()),
                       float(spread[s:e].sum()), float(spread[s:e].max()),
                       float(spread[s:e].min()), int(seq0 + s)])
    if carry is not None:
        if groups and groups[0][0] == carry[0]:
            g = groups[0]
            groups[0] = [carry[0], carry[1], max(g[2], carry[2]),
                         min(g[3], carry[3]), g[4], g[5] + carry[5],
                         g[6] + carry[6], g[7] + carry[7], g[8] + carry[8],
                         max(g[9], carry[9]), min(g[10], carry[10]),
                         carry[11]]
        else:
            groups.insert(0, list(carry))
    done = []
    for i in range(len(groups) - 1):
        # the completing tick is the NEXT bar's first tick (its seq)
        done.append(groups[i] + [groups[i + 1][11]])
    return done, groups[-1] if groups else None


def streaming_features_stateful(ticks: DataFrame,
                                warmup_bars: int = 260) -> DataFrame:
    """The full 148-feature pipeline as ONE stateful streaming operator
    (SURVEY §2.9 — closes the round-2 'batch-shaped features' gap): per
    source the state is (last_bid, tick counter, open M1/M5 partial bars,
    and a FEATURE_HALO-deep tail of completed M1/M5 bars). Each micro-batch
    completes bars exactly like the batch aggregation (a bar completes when
    a later tick arrives; up/down direction crosses bar AND batch
    boundaries), appends them to the tails, runs the batch kernel
    (compute_features_pdf) with global index offsets, and emits ONLY the
    newly completed emissions — bit-identical to the batch builder's feature
    columns on replay. State is bounded (~2x620 bars x 10 scalars per
    source); the halo argument is the same as engine/skew.py's (absolute
    warm-up/run-count gates live below bar 560, which always precede any
    trimming). Labels stream separately (streaming_labels_stateful).
    Use outputMode('append')."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from .features import compute_features_pdf
    from .pipeline import FEATURES_SCHEMA

    tf1_us = 1 * US_PER_MIN
    tf5_us = 5 * US_PER_MIN
    out_cols = [c.strip().split(" ")[0].strip("`")
                for c in FEATURES_SCHEMA.split(", ")]

    def fn(key, pdfs, state: GroupState):
        batch = _tick_batch(pdfs)
        if batch is None:
            return
        us, bid, ask = batch
        spread = ask - bid

        if state.exists:
            st = list(state.get)
        else:
            st = ([float("nan"), 0]
                  + ([[]] * 10 + [0, 0, [], []]) * 2)
        last_bid, tick_count = st[0], st[1]
        tails, dones, starts_g, carries = [], [], [], []
        for off in (2, 16):
            block = st[off:off + 14]
            tails.append({c: list(block[i]) for i, c in enumerate(_TAIL_COLS)})
            dones.append(block[10])
            starts_g.append(block[11])
            pd_, pl = block[12], block[13]
            carries.append(None if not len(pl) else
                           [pl[0], pd_[0], pd_[1], pd_[2], pd_[3], pl[1],
                            pl[2], pl[3], pd_[4], pd_[5], pd_[6], pl[4]])

        up_t, down_t = _tick_direction(bid, last_bid)

        new_done = []
        for k, tf_us in enumerate((tf1_us, tf5_us)):
            bar_ts = us - us % tf_us
            done, carry = _accumulate_tf(bar_ts, bid, spread, up_t, down_t,
                                         tick_count, carries[k])
            carries[k] = carry
            for g in done:
                t = tails[k]
                t["ts"].append(g[0]); t["open"].append(g[1])
                t["high"].append(g[2]); t["low"].append(g[3])
                t["close"].append(g[4]); t["vol"].append(g[5])
                t["up"].append(g[6]); t["down"].append(g[7])
                t["spread"].append(g[8] / g[5]); t["comp"].append(g[12])
            new_done.append(len(done))
        last_bid = float(bid[-1])
        tick_count += len(bid)

        out = None
        m1_prev_done = dones[0]
        dones[0] += new_done[0]
        dones[1] += new_done[1]
        if new_done[0] and dones[0] > warmup_bars:
            def frame(k):
                t = tails[k]
                return pd.DataFrame({
                    "source": key[0], "bar_ts_us": np.asarray(t["ts"], "int64"),
                    "open": t["open"], "high": t["high"], "low": t["low"],
                    "close": t["close"],
                    "tick_volume": np.asarray(t["vol"], "int64"),
                    "up": np.asarray(t["up"], "int64"),
                    "down": np.asarray(t["down"], "int64"),
                    "avg_spread": t["spread"],
                    "completion_seq": np.asarray(t["comp"], "int64")})
            feats = compute_features_pdf(
                frame(0), frame(1), warmup_bars=warmup_bars,
                bar_index_offset=starts_g[0], m5_index_offset=starts_g[1])
            if len(feats):
                feats = feats[feats["bar_index"] >= m1_prev_done]
            if len(feats):
                out = feats.drop(columns=["bar_index"])[out_cols]

        # trim tails to the halo (bounded state)
        new_state = [last_bid, tick_count]
        for k in range(2):
            t = tails[k]
            cut = max(0, len(t["ts"]) - FEATURE_HALO)
            if cut:
                for c in _TAIL_COLS:
                    t[c] = t[c][cut:]
                starts_g[k] += cut
            carry = carries[k]
            pd_ = [] if carry is None else [carry[1], carry[2], carry[3],
                                            carry[4], carry[8], carry[9],
                                            carry[10]]
            pl = [] if carry is None else [carry[0], carry[5], carry[6],
                                           carry[7], carry[11]]
            new_state += [t[c] for c in _TAIL_COLS] + [dones[k], starts_g[k],
                                                       pd_, pl]
        state.update(tuple(new_state))
        if out is not None:
            yield out

    out_schema = StructType.fromDDL(FEATURES_SCHEMA)
    return (ticks.groupBy("source")
            .applyInPandasWithState(fn, out_schema, _FEAT_STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


def streaming_exact_dedup(docs: DataFrame, ts_col: str = "ts",
                          watermark: str = "1 hour",
                          text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: drops rows whose normalized-text md5 was
    already seen within the watermark horizon (bounded state — the streaming
    form of ops/dedup.exact_dedup's hash key). Rows, not groups: the FIRST
    arrival survives."""
    from ..ops.dedup import normalize_text
    keyed = docs.withColumn("__text_hash", F.md5(normalize_text(F.col(text_col))))
    return (keyed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__text_hash"])
            .drop("__text_hash"))


def streaming_incremental_dedup(docs: DataFrame, seen: DataFrame,
                                ts_col: str = "ts",
                                watermark: str = "1 hour",
                                text_col: str = "text") -> DataFrame:
    """Streaming form of ops/dedup.incremental_dedup: a live crawl stream
    deduplicated against BOTH the static seen-corpus hash table (all
    previously-ingested content — a stream-static LEFT ANTI join, re-read
    per micro-batch so an externally-appended seen table takes effect) and
    itself within the watermark horizon (dropDuplicatesWithinWatermark —
    bounded state). First arrival of fresh content survives.

    Scale shape: the anti join is BY KEY on the 16-byte hash (the
    corpus-sized seen side shuffles by hash once per batch, never
    broadcast); in-stream state holds only hashes inside the watermark."""
    from ..ops.dedup import normalize_text
    keyed = docs.withColumn("__text_hash",
                            F.md5(normalize_text(F.col(text_col))))
    seen_keys = seen.select(F.col("text_hash").alias("__text_hash")).distinct()
    fresh = keyed.join(seen_keys, "__text_hash", "left_anti")
    return (fresh.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__text_hash"])
            .drop("__text_hash"))


def streaming_near_dedup(docs: DataFrame, seen_sigs: DataFrame,
                         num_hashes: int = 16, bands: int = 8,
                         threshold: float = 0.5, ts_col: str = "ts",
                         watermark: str = "1 hour", text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Streaming form of ops/dedup.incremental_near_dedup: flag crawl-stream
    documents that are MinHash-LSH NEAR-duplicates of the already-ingested
    corpus. `seen_sigs` is the STATIC (id, sig) signature table of the
    corpus — the table a production ingest loop stores at write time
    (derive with minhash_signatures for a self-contained run). Emits one
    row per (new doc, seen doc) pair whose estimated Jaccard clears
    `threshold`: (doc_id, seen_id, est_jaccard, <ts_col>).

    Scale shape / statefulness: signatures are ROW-LOCAL expressions
    (minhash_signatures_rowlocal — no groupBy, so no aggregation state);
    candidates come from a stream-static EQUI-join on (band, bhash)
    against the banded static table (per-batch work is bounded by bucket
    collisions, never stream x corpus); the zip_with rerank is a
    projection. The only state is dropDuplicatesWithinWatermark on the
    (doc, seen) pair — it collapses multi-band collisions of the same
    pair and is bounded by the watermark horizon. The per-doc best-match
    reduction stays a downstream batch rollup (the batch op does it)."""
    from ..ops.dedup import (_banded, _est_jaccard, band_structs,
                             minhash_signatures_rowlocal)
    sn = minhash_signatures_rowlocal(docs, num_hashes, text_col, id_col,
                                     keep_cols=(ts_col,))
    nb = (sn.select("id", ts_col, "sig",
                    F.explode(band_structs(num_hashes, bands)).alias("bb"))
          .select(F.col("id").alias("doc_id"), F.col("sig").alias("sig_n"),
                  F.col("bb.band").alias("band"),
                  F.col("bb.bhash").alias("bhash"), ts_col))
    sb = (_banded(seen_sigs, num_hashes, bands, keep_sig=True)
          .select(F.col("id").alias("seen_id"), F.col("sig").alias("sig_s"),
                  "band", "bhash"))
    est = _est_jaccard(F.col("sig_n"), F.col("sig_s"), num_hashes)
    pairs = (nb.join(sb, ["band", "bhash"])
             .withColumn("est_jaccard", F.round(est, 6))
             .filter(F.col("est_jaccard") >= threshold)
             .select("doc_id", "seen_id", "est_jaccard", ts_col))
    return (pairs.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["doc_id", "seen_id"]))


def streaming_sessionize(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Gap-based session aggregation with session_window (north-rule
    sessionize, streaming form)."""
    return (
        events
        .withWatermark("ts", watermark)
        .groupBy("source", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .select("source", "session_start", "session_end", "n_events")
    )
