"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives a
byte-identical trade tape and the same events table. The engine only ever
sees the JSON lines and the parquet table; the manifest (which lines were
made late, malformed or undecodable) is for the benchmark's checks.
"""
import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = [f"S{i:02d}USDT" for i in range(50)]
T0_MS = 1705276800000  # 2024-01-15 00:00:00 UTC
CHUNK_LINES = 400  # 200 ms of feed at 2,000 events/s
CHUNK_PERIOD_MS = 200.0
# Event time runs 30x faster than the feed, so a run crosses several
# 1-minute windows and the 2-minute watermark evicts state as it goes.
CHUNK_SPAN_MS = 6000
OUT_OF_ORDER_MS = 60000  # well inside the 2-minute watermark
LATE_SHARE = 0.002
MALFORMED_SHARE = 0.002
BAD_DECIMAL_SHARE = 0.002
OUT_OF_ORDER_SHARE = 0.05


def trade_tape(seed, chunks):
    """Return (lines, manifest) for a tape of one clean primer chunk
    followed by `chunks` chunks of CHUNK_LINES lines each.

    Beside in-order trades the tape holds trades shifted back by up to a
    minute (inside the watermark, so they refine open windows), trades an
    hour or more behind (beyond the watermark; each in its own minute so
    the engine drops exactly one partial aggregate per late trade),
    unparseable lines, and trades whose price or quantity is not a decimal.
    """
    rng = random.Random(seed)
    price = [100.0 + 37.0 * i for i in range(len(SYMBOLS))]
    lines, late = [], []
    malformed = bad_decimal = 0
    trade_id = 0
    for c in range(chunks + 1):
        base = T0_MS + c * CHUNK_SPAN_MS
        for _ in range(CHUNK_LINES):
            trade_id += 1
            s = rng.randrange(len(SYMBOLS))
            price[s] = max(1.0, price[s] + rng.uniform(-0.5, 0.5))
            px = f"{price[s]:.8f}"
            qty = f"{rng.randrange(1, 200000) / 10000:.8f}"
            ts = base + rng.randrange(CHUNK_SPAN_MS)
            u = rng.random() if c > 0 else 1.0  # the primer stays clean
            if u < LATE_SHARE:
                ts = T0_MS - 3600000 - len(late) * 60000 - rng.randrange(60000)
                late.append(len(lines))
            elif u < LATE_SHARE + MALFORMED_SHARE:
                lines.append(f"corrupt frame {trade_id} {rng.getrandbits(32):08x}")
                malformed += 1
                continue
            elif u < LATE_SHARE + MALFORMED_SHARE + BAD_DECIMAL_SHARE:
                if rng.random() < 0.5:
                    px = px.replace(".", "x", 1)
                else:
                    qty = "n/a"
                bad_decimal += 1
            elif u < LATE_SHARE + MALFORMED_SHARE + BAD_DECIMAL_SHARE + OUT_OF_ORDER_SHARE:
                ts -= rng.randrange(OUT_OF_ORDER_MS)
            maker = "true" if rng.random() < 0.5 else "false"
            lines.append(
                f'{{"trade_id":{trade_id},"symbol":"{SYMBOLS[s]}","price":"{px}",'
                f'"quantity":"{qty}","trade_time":{ts},"is_buyer_maker":{maker}}}')
    manifest = {
        "primer_lines": CHUNK_LINES, "chunk_lines": CHUNK_LINES, "chunks": chunks,
        "chunk_period_ms": CHUNK_PERIOD_MS, "late_lines": late,
        "malformed_json": malformed, "bad_decimal": bad_decimal,
    }
    return lines, manifest


def write_tape(directory, seed, chunks):
    lines, manifest = trade_tape(seed, chunks)
    (directory / "tape.jsonl").write_text("\n".join(lines) + "\n")
    (directory / "manifest.json").write_text(json.dumps(manifest))
    return manifest


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# Twelve hours around 2024-01-15 00:00 (the instant the freshness query
# asks about): ~1.7 events per (minute, type) at 6,000 events, so candles
# have distinct opens and closes and the candle-pattern query finds patterns.
EVENT_SPAN_US = 43200 * 1000000
EVENT_T0_US = (1705276800 - 21600) * 1000000


def write_events(directory, seed, n):
    """The `events` table the candle queries read, with the test
    fixture's schema (FIXTURES.md): unique microsecond timestamps (event_id
    in time order), five event types, 150 users, prices with two decimals
    including exact zeros, and a JSON `props` quantity."""
    rng = np.random.Generator(np.random.PCG64(seed))
    ts = np.unique(rng.integers(0, EVENT_SPAN_US, n + n // 10))
    rng.shuffle(ts)  # draw which n of the unique instants survive evenly
    ts = np.sort(ts[:n])
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EVENT_T0_US + ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(rng.integers(0, 50000, n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, directory / "events.parquet")
    return n
