"""Seeded input generator and engine-independent oracle for the benchmark.

Writes the benchmark's tables with numpy and pyarrow only. It never
imports the validation engine, so no engine change can alter the inputs
or the expected answers. Every table comes with an oracle: the exact
violation counts per ``field_path:rule_id`` that a correct engine must
report, derived in plain Python from the generated values.

Defects are injected at fixed per-row rates. Each row falls into at most
one defect category, so each category maps to a known set of violations.
The tables are cached on disk under ``<cache>/<kind>-s<seed>-<size><rows>/``;
a finished entry holds ``DONE``, so an interrupted generation is redone.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import struct
from collections import Counter
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTS = 16
EPOCH = date(2026, 1, 1)
SR_CHOICES = (8000, 16000, 22050, 44100, 48000)
CODECS = ("wav", "flac", "opus", "mp3")
CODEC_P = (0.70, 0.15, 0.10, 0.05)
APPEND_PARTS = (2, 7, 11)  # partitions that receive the appended files
WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu amber birch cedar dune "
         "ember fjord grove harbor inlet jetty knoll lagoon").split()

# rows per table; "smoke" exercises every code path in seconds
SIZES = {
    "smoke": {"clips": 640, "append": 48, "scalar": 20_000},
    "full": {"clips": 6_400, "append": 96, "scalar": 200_000},
}

# per-row defect rates (mutually exclusive categories; the rest is clean)
CLIP_DEFECTS = {
    "id_null": 0.004, "id_dup": 0.004, "id_pattern": 0.004,
    "bytes_null": 0.004, "bytes_garbage": 0.005, "sr_mismatch": 0.005,
    "sr_range": 0.003, "dur_mismatch": 0.005, "dur_zero": 0.003,
    "codec_bad": 0.004, "tx_null": 0.004, "tx_empty": 0.004,
}
SCALAR_DEFECTS = {
    "id_dup": 0.001, "acct_null": 0.001, "acct_bad": 0.001,
    "merchant_unknown": 0.001, "amount_null": 0.001, "amount_neg": 0.001,
    "amount_big": 0.001, "qty_zero": 0.001, "status_bad": 0.001,
    "note_long": 0.001,
}
N_MERCHANTS = 1000
STATUSES = ("new", "paid", "shipped", "returned", "cancelled")
CHANNELS = ("web", "app", "store", "phone")
CHANNEL_P = (0.4, 0.3, 0.2, 0.1)
CAL_DAYS = 60
CAL_MISSING = (17, 41)  # day offsets left out of event_date on purpose
NOTE_NULL_RATE = 0.4

# the suite thresholds the oracle evaluates; workloads.py builds the
# engine suite from the same values
CLIPS_DRIFT_BASELINE = {
    "codec": {"lo": None, "hi": None, "hist": dict(zip(CODECS, CODEC_P))},
    # every clip in one bucket: the current spread over five rates drifts
    "sr_hz": {"lo": 8000.0, "hi": 48000.0, "hist": {"b1": 1.0}},
}
SCALAR_DRIFT_BASELINE = {
    "channel": {"lo": None, "hi": None,
                "hist": dict(zip(CHANNELS, CHANNEL_P))},
    "amount": {"lo": 0.0, "hi": 10000.0, "hist": {"b1": 1.0}},
}
NOTE_MAX_NULL_RATE = 0.25
QTY_MIN_BOUND = 1
ENTROPY_COLS = ("channel", "status")
MIN_ENTROPY = 1.5
VOLUME_MAX_REL_DEV = 0.5


def _categories(rng, n, defects):
    names = ["clean", *defects]
    p = [1.0 - sum(defects.values()), *defects.values()]
    return np.array(names, dtype=object)[rng.choice(len(names), n, p=p)]


def _date(part):
    return EPOCH + timedelta(days=int(part))


# ---------------------------------------------------------------------------
# clips: (row_idx, clip_id, bytes, sr_hz, dur_ms, codec, transcript)
# partitioned by part_date; bytes are real 16-bit mono WAV payloads
# ---------------------------------------------------------------------------

def _wav(samples: np.ndarray, sr: int) -> bytes:
    data = samples.tobytes()
    return struct.pack("<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data),
                       b"WAVE", b"fmt ", 16, 1, 1, sr, sr * 2, 2, 16,
                       b"data", len(data)) + data


def _signal_bank(rng, n=1 << 20) -> np.ndarray:
    """Speech-like int16 signal: smoothed noise under a slow syllable
    envelope plus a drifting tone. Rows take slices of it."""
    noise = np.convolve(rng.standard_normal(n), np.ones(6) / 6, "same")
    t = np.arange(n)
    env = 0.15 + 0.85 * np.abs(np.sin(2 * np.pi * t / 3100.0))
    tone = 0.3 * np.sin(2 * np.pi * t * (0.01 + 0.005 * np.sin(t / 9e4)))
    x = env * (0.5 * noise + tone)
    x = 0.6 * x / np.max(np.abs(x))
    return np.round(x * 32767).astype("<i2")


def clip_rows(seed: int, start: int, n: int, id_pool: np.ndarray):
    """Rows ``start .. start+n-1`` of the clips table plus each row's
    defect category. ``id_pool`` holds row indices whose clip_id a
    duplicate may copy (rows without an id defect)."""
    rng = np.random.default_rng([seed, 1, start])
    bank = _signal_bank(np.random.default_rng([seed, 2]))
    cat = _categories(rng, n, CLIP_DEFECTS)
    sr = rng.choice(SR_CHOICES, n)
    n_samp = rng.integers(12_000, 20_001, n)
    offs = rng.integers(0, len(bank) - 20_001, n)
    codec_i = rng.choice(len(CODECS), n, p=CODEC_P)
    tx_len = rng.integers(1, 21, n)
    words = rng.integers(0, len(WORDS), (n, 20))
    other_sr = rng.integers(1, len(SR_CHOICES), n)
    dup_of = rng.choice(id_pool, n) if len(id_pool) else np.zeros(n, int)
    rows = {k: [] for k in ("row_idx", "clip_id", "bytes", "sr_hz",
                            "dur_ms", "codec", "transcript", "part")}
    for k in range(n):
        i, c = start + k, cat[k]
        head_sr = 4000 if c == "sr_range" else int(sr[k])
        col_sr = head_sr
        if c == "sr_mismatch":
            col_sr = SR_CHOICES[(SR_CHOICES.index(head_sr) + int(other_sr[k]))
                                % len(SR_CHOICES)]
        ns = 0 if c == "dur_zero" else int(n_samp[k])
        dur = int(np.round(ns * 1000.0 / head_sr))
        if c == "dur_mismatch":
            dur += 500
        if c == "bytes_null":
            payload = None
        elif c == "bytes_garbage":
            payload = b"JUNK" + rng.bytes(60)
        else:
            payload = _wav(bank[offs[k]:offs[k] + ns], head_sr)
        clip_id = f"clip-{i:010d}"
        if c == "id_null":
            clip_id = None
        elif c == "id_pattern":
            clip_id = f"clip-{i:07d}x"
        elif c == "id_dup":
            clip_id = f"clip-{int(dup_of[k]):010d}"
        tx = " ".join(WORDS[w] for w in words[k, :tx_len[k]])
        if c == "tx_null":
            tx = None
        elif c == "tx_empty":
            tx = ""
        rows["row_idx"].append(i)
        rows["clip_id"].append(clip_id)
        rows["bytes"].append(payload)
        rows["sr_hz"].append(col_sr)
        rows["dur_ms"].append(dur)
        rows["codec"].append("xm" if c == "codec_bad"
                             else CODECS[codec_i[k]])
        rows["transcript"].append(tx)
        rows["part"].append(i % N_PARTS)
    return rows, cat


_CLIP_SCHEMA = pa.schema([
    ("row_idx", pa.int64()), ("clip_id", pa.string()),
    ("bytes", pa.binary()), ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
    ("codec", pa.string()), ("transcript", pa.string()),
])


def _write_clip_files(rows, table_dir, name, parts=None):
    part = np.array(rows["part"])
    for p in (parts if parts is not None else range(N_PARTS)):
        idx = np.nonzero(part == p)[0]
        if not len(idx):
            continue
        cols = {k: [rows[k][j] for j in idx] for k in _CLIP_SCHEMA.names}
        d = os.path.join(table_dir, f"part_date={_date(p).isoformat()}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table(cols, schema=_CLIP_SCHEMA),
                       os.path.join(d, name), compression="none")


def clip_row_violations(rows, cat):
    """Row-level violations per ``field_path:rule_id`` and partition
    (everything except the table-level UNIQUE / REF / DRIFT checks)."""
    hits = {
        "id_null": ("/clip_id:REQUIRED",), "id_pattern": ("/clip_id:PATTERN",),
        "bytes_null": ("/bytes:REQUIRED",), "bytes_garbage": ("/bytes:DECODE",),
        "sr_mismatch": ("/sr_hz:CONSISTENT",),
        "sr_range": ("/sr_hz:MIN", "/sr_hz:NOTALLOWED"),
        "dur_mismatch": ("/dur_ms:CONSISTENT",),
        "dur_zero": ("/dur_ms:MIN_EXCLUSIVE",),
        "codec_bad": ("/codec:NOTALLOWED",),
        "tx_null": ("/transcript:REQUIRED",),
        "tx_empty": ("/transcript:MIN_LEN",),
    }
    by_rule, by_part = Counter(), Counter()
    for c, p in zip(cat, rows["part"]):
        for key in hits.get(c, ()):
            by_rule[key] += 1
            by_part[p] += 1
    return by_rule, by_part


def clip_table_violations(rows):
    """Table-level violations: (by rule, by partition) — the partition
    tally leaves out the DRIFT rows, whose partition key is NULL."""
    by_rule, by_part = Counter(), Counter()
    ids = Counter(c for c in rows["clip_id"] if c is not None)
    for cid, codec, p in zip(rows["clip_id"], rows["codec"], rows["part"]):
        if cid is not None and ids[cid] > 1:
            by_rule["/clip_id:UNIQUE"] += 1
            by_part[p] += 1
        if codec not in CODECS:
            by_rule["/codec:REF"] += 1
            by_part[p] += 1
    for col in CLIPS_DRIFT_BASELINE:
        if _drifts(col, rows[col], CLIPS_DRIFT_BASELINE[col]):
            by_rule[f"/{col}:DRIFT"] += 1
    return by_rule, by_part


def _hist(values, snap, n_buckets=32):
    vals = [v for v in values if v is not None]
    if snap["lo"] is None:
        labels = [str(v) for v in vals]
    else:
        lo, hi = snap["lo"], snap["hi"]
        step = (hi - lo) / n_buckets
        labels = ["b%d" % (0 if v < lo else n_buckets + 1 if v >= hi
                           else int((v - lo) // step) + 1) for v in vals]
    n = len(labels)
    return {k: c / n for k, c in Counter(labels).items()}


def _drifts(col, values, snap, psi_max=0.2, ks_max=0.1):
    """PSI / KS drift gate on the same histogram definition the suite
    documents (equi-width buckets for numeric columns)."""
    cur, base = _hist(values, snap), snap["hist"]
    keys = set(cur) | set(base)
    psi = sum((max(cur.get(k, 0), 1e-6) - max(base.get(k, 0), 1e-6))
              * math.log(max(cur.get(k, 0), 1e-6) / max(base.get(k, 0), 1e-6))
              for k in keys)

    def order(k):
        return ((0, int(k[1:]), "") if k[:1] == "b" and k[1:].isdigit()
                else (1, 0, k))
    ce = ca = ks = 0.0
    for k in sorted(keys, key=order):
        ce += base.get(k, 0.0)
        ca += cur.get(k, 0.0)
        ks = max(ks, abs(ce - ca))
    return psi > psi_max or ks > ks_max


def _clip_id_pool(cat):
    ok = [k for k, c in enumerate(cat)
          if c not in ("id_null", "id_pattern", "id_dup")]
    return np.array(ok[: max(1, len(ok) // 4)])


def build_clips(seed: int, size: str, out: str) -> None:
    """The clips table, its codec dimension, the append-delta files and
    the oracle for the full pass and for the resumed run."""
    n, n_app = SIZES[size]["clips"], SIZES[size]["append"]
    table = os.path.join(out, "table")
    # duplicates copy ids of the first rows (a pool drawn before the rest)
    head, head_cat = clip_rows(seed, 0, 64, np.array([], int))
    pool = _clip_id_pool(head_cat)
    rest, rest_cat = clip_rows(seed, 64, n - 64, pool)
    rows = {k: head[k] + rest[k] for k in head}
    cat = np.concatenate([head_cat, rest_cat])
    _write_clip_files(rows, table, "part-00000.parquet")

    app, app_cat = clip_rows(seed + 1_000_003, n, n_app, pool)
    # appended rows land only in APPEND_PARTS
    app["part"] = [APPEND_PARTS[k % len(APPEND_PARTS)] for k in range(n_app)]
    _write_clip_files(app, os.path.join(out, "append"),
                      "part-append-00000.parquet", APPEND_PARTS)

    dim = os.path.join(out, "codecs.parquet")
    pq.write_table(pa.table({"codec": list(CODECS),
                             "lossless": [True, True, False, False]}), dim)

    row_rule, _ = clip_row_violations(rows, cat)
    tab_rule, _ = clip_table_violations(rows)
    both = {k: rows[k] + app[k] for k in rows}
    both_cat = np.concatenate([cat, app_cat])
    row_rule2, row_part2 = clip_row_violations(both, both_cat)
    tab_rule2, tab_part2 = clip_table_violations(both)
    part_rows = Counter(both["part"])
    verdicts = []
    for p in range(N_PARTS):
        v = row_part2[p] + tab_part2[p]
        verdicts.append([_date(p).isoformat(), v == 0, part_rows[p], v])
    oracle = {
        "rows": n,
        "by_rule": dict(sorted((row_rule + tab_rule).items())),
        "resume": {
            "rows_scanned": n + n_app,
            "row_violations": sum(row_rule2.values()),
            "global_violations": sum(tab_rule2.values()),
            "verdicts": verdicts,
        },
    }
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# scalar: a flat order-like table with no payload column
# ---------------------------------------------------------------------------

def build_scalar(seed: int, size: str, out: str, n_files: int = 8) -> None:
    n = SIZES[size]["scalar"]
    rng = np.random.default_rng([seed, 3])
    cat = _categories(rng, n, SCALAR_DEFECTS)
    ids = np.arange(n, dtype=np.int64)
    dup = cat == "id_dup"
    ids[dup] = rng.integers(0, n, int(dup.sum()))
    acct = np.array([f"acct-{v:08d}" for v in rng.integers(0, 10**8, n)],
                    dtype=object)
    acct[cat == "acct_null"] = None
    bad = np.nonzero(cat == "acct_bad")[0]
    acct[bad] = [f"acct-{v:05d}" for v in bad % 100_000]
    merchant = rng.integers(0, N_MERCHANTS, n)
    unk = cat == "merchant_unknown"
    merchant[unk] = N_MERCHANTS + rng.integers(0, 1000, int(unk.sum()))
    amount = np.round(rng.uniform(0.5, 9999.5, n), 2)
    amount[cat == "amount_neg"] = -5.0
    amount[cat == "amount_big"] = 25_000.0
    amount_valid = cat != "amount_null"
    qty = rng.integers(1, 1001, n).astype(np.int32)
    qty[cat == "qty_zero"] = 0
    status = np.array(STATUSES, dtype=object)[rng.integers(0, 5, n)]
    status[cat == "status_bad"] = "lost"
    channel = np.array(CHANNELS, dtype=object)[
        rng.choice(len(CHANNELS), n, p=CHANNEL_P)]
    note_len = rng.integers(1, 60, n)
    note = np.array(["n" * k for k in note_len], dtype=object)
    note[rng.random(n) < NOTE_NULL_RATE] = None
    note[cat == "note_long"] = "x" * 80
    days = [d for d in range(CAL_DAYS) if d not in CAL_MISSING]
    day = np.array(days)[rng.integers(0, len(days), n)]
    event_date = [date(2025, 1, 1) + timedelta(days=int(d)) for d in day]

    table = pa.table({
        "id": pa.array(ids), "account": pa.array(list(acct), pa.string()),
        "merchant_id": pa.array(merchant.astype(np.int64)),
        "amount": pa.array(amount, mask=~amount_valid),
        "qty": pa.array(qty), "status": pa.array(list(status), pa.string()),
        "channel": pa.array(list(channel), pa.string()),
        "note": pa.array(list(note), pa.string()),
        "event_date": pa.array(event_date, pa.date32()),
    })
    tdir = os.path.join(out, "table")
    os.makedirs(tdir, exist_ok=True)
    step = -(-n // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(tdir, f"part-{k:05d}.parquet"))
    pq.write_table(pa.table({"merchant_id": pa.array(
        np.arange(N_MERCHANTS, dtype=np.int64))}),
        os.path.join(out, "merchants.parquet"))

    by_rule = Counter()
    for c, keys in {
        "acct_null": ("/account:REQUIRED",), "acct_bad": ("/account:PATTERN",),
        "amount_null": ("/amount:REQUIRED",), "amount_neg": ("/amount:MIN",),
        "amount_big": ("/amount:MAX",), "qty_zero": ("/qty:MIN_EXCLUSIVE",),
        "status_bad": ("/status:NOTALLOWED",), "note_long": ("/note:MAX_LEN",),
    }.items():
        hit = int((cat == c).sum())
        for key in keys:
            by_rule[key] += hit
    id_count = Counter(ids.tolist())
    by_rule["/id:UNIQUE"] = sum(v for v in id_count.values() if v > 1)
    by_rule["/merchant_id:REF"] = int(unk.sum())
    if float(np.mean([x is None for x in note])) > NOTE_MAX_NULL_RATE:
        by_rule["/note/null_rate:NULL"] += 1
    if int(qty.min()) < QTY_MIN_BOUND:
        by_rule["/qty/min:MIN"] += 1
    for col, vals in (("channel", channel), ("status", status)):
        cnt = Counter(vals.tolist())
        h = -sum(c / n * math.log(c / n) for c in cnt.values())
        if round(h, 6) < MIN_ENTROPY:
            by_rule[f"/{col}:MIN"] += 1
    cnt = Counter(channel.tolist())
    mean = n / len(cnt)
    by_rule["/channel:DRIFT"] = sum(
        1 for c in cnt.values() if abs(c - mean) / mean > VOLUME_MAX_REL_DEV)
    by_rule["/event_date:REQUIRED"] = len(CAL_MISSING)
    amount_list = [float(a) if ok else None
                   for a, ok in zip(amount, amount_valid)]
    for col, vals in (("channel", list(channel)), ("amount", amount_list)):
        if _drifts(col, vals, SCALAR_DRIFT_BASELINE[col]):
            by_rule[f"/{col}:DRIFT"] += 1
    oracle = {"rows": n,
              "by_rule": {k: v for k, v in sorted(by_rule.items()) if v}}
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle, f, indent=1, sort_keys=True)


BUILDERS = {"clips": build_clips, "scalar": build_scalar}
CACHE_KEEP = 10  # ten seeds of one kind, ~2 GB of clips at full size


def ensure(cache: str, kind: str, seed: int, size: str) -> str:
    """Path of the cached input set, generating it on a miss. At most
    ``CACHE_KEEP`` entries of each kind stay on disk (least recently
    used go first)."""
    out = os.path.join(cache, f"{kind}-s{seed}-{size}{SIZES[size][kind]}")
    if os.path.exists(os.path.join(out, "DONE")):
        os.utime(os.path.join(out, "DONE"))
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    BUILDERS[kind](seed, size, out)
    open(os.path.join(out, "DONE"), "w").close()
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, e, "DONE")), e)
        for e in os.listdir(cache)
        if e.startswith(f"{kind}-")
        and os.path.exists(os.path.join(cache, e, "DONE")))
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    return out
