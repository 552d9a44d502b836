"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/NumPy/Arrow and runs before any clock
starts. Three generators:

- ``write_tables``: the ten-table star schema the registry keys read
  (the shape of the fixed seed-42 test data: TPC-H-ish tables plus
  ``events``, ``documents`` and ``embeddings``), at a chosen scale.
- ``write_sensor_backlog``: JSON-line reading files for the SCD2 stream,
  plus the SCD2 outcome the stream must end in.
- ``write_doc_backlog``: JSON-line document files for the minhash dedup
  stream, with seeded near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group filter vector").split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_text(rng: np.random.Generator, n_words: int) -> list[str]:
    return [WORDS[i] for i in rng.integers(0, len(WORDS), n_words)]


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write the ten registry tables at scale factor ``sf`` (row counts
    follow the test data: lineitem = 6M·sf, orders = 1.5M·sf, ...)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_user = max(10, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = rng.integers(0, 8, n_part)
    noun = rng.integers(0, 8, n_part)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    odays = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    l_ord = rng.integers(0, n_ord, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ord.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-01", odays[l_ord] + rng.integers(1, 122, n_line))})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.clip(np.round(rng.exponential(40, n_evt), 2), 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_doc_text(rng, int(rng.integers(10, 91)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.standard_normal((10, 64)) / 8.0
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.standard_normal((n_emb, 64)) / 8.0 + 1.2 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def write_sensor_backlog(src_dir: str, seed: int, n_files: int,
                         rows_per_file: int, n_devices: int = 20
                         ) -> tuple[list[tuple], list[int]]:
    """Write ``n_files`` JSON-line reading files. About 85% of each file's
    rows are new readings, 10% corrections (an earlier reading with a
    changed humidity) and 5% exact re-sends of a key's latest values; no
    key appears twice in one file.

    Returns (expected SCD2 rows, rows changed per file). The expected
    rows are ``(device_id, ts, humidity, temperature, da_current_flag)``:
    one current row per key with the last values sent plus one closed
    row per value a correction replaced. A row is changed when a batch
    inserts it (new reading) or closes it (the old version of a
    correction)."""
    rng = np.random.default_rng(seed)
    os.makedirs(src_dir, exist_ok=True)
    devices = [f"DEV{d:02d}" for d in range(n_devices)]
    clock = {d: dt.datetime(2024, 5, 1) for d in devices}
    latest: dict[tuple[str, str], tuple[str, str]] = {}
    closed: list[tuple] = []
    keys: list[tuple[str, str]] = []
    changed = []
    for f in range(n_files):
        n_fix = int(rows_per_file * 0.10) if keys else 0
        n_dup = int(rows_per_file * 0.05) if keys else 0
        n_new = rows_per_file - n_fix - n_dup
        old = rng.choice(len(keys), min(len(keys), n_fix + n_dup),
                         replace=False) if keys else []
        rows = []
        for j, idx in enumerate(old):
            key = keys[int(idx)]
            hum, temp = latest[key]
            if j < n_fix:
                new_hum = str((int(hum) + int(rng.integers(1, 20))) % 100)
                closed.append((*key, hum, temp))
                latest[key] = (new_hum, temp)
                hum = new_hum
            rows.append({"device_id": key[0], "TimeZone": "IST",
                         "Humidity": hum, "Temperature": temp,
                         "Timestamp": key[1]})
        for _ in range(n_new):
            dev = devices[int(rng.integers(0, n_devices))]
            clock[dev] += dt.timedelta(seconds=int(rng.integers(1, 600)))
            key = (dev, clock[dev].strftime("%Y-%m-%d %H:%M:%S"))
            hum = str(int(rng.integers(20, 95)))
            temp = str(int(rng.integers(10, 40)))
            latest[key] = (hum, temp)
            keys.append(key)
            rows.append({"device_id": dev, "TimeZone": "IST",
                         "Humidity": hum, "Temperature": temp,
                         "Timestamp": key[1]})
        order = rng.permutation(len(rows))
        _write_jsonl(os.path.join(src_dir, f"readings-{f:04d}.json"),
                     [rows[i] for i in order])
        changed.append(n_new + 2 * n_fix)
    expected = [(*k, h, t, "N") for (*k, h, t) in closed]
    expected += [(*k, h, t, "Y") for k, (h, t) in latest.items()]
    return expected, changed


def write_doc_backlog(src_dir: str, seed: int, n_files: int,
                      docs_per_file: int) -> None:
    """Write ``n_files`` JSON-line document files. About 10% of the docs
    copy an earlier doc with about 5% of its tokens replaced."""
    rng = np.random.default_rng(seed)
    os.makedirs(src_dir, exist_ok=True)
    docs: list[list[str]] = []
    for f in range(n_files):
        rows = []
        for _ in range(docs_per_file):
            if docs and rng.random() < 0.10:
                toks = list(docs[int(rng.integers(0, len(docs)))])
                for i in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                    toks[int(i)] = WORDS[int(rng.integers(0, len(WORDS)))]
            else:
                toks = _doc_text(rng, int(rng.integers(20, 91)))
            rows.append({"doc_id": len(docs), "text": " ".join(toks)})
            docs.append(toks)
        _write_jsonl(os.path.join(src_dir, f"docs-{f:04d}.json"), rows)
