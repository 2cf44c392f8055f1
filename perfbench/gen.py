"""Seeded input generator for the broker benchmark.

Every table has the schema of the engine's test tables (see
`graft.Tables`): a TPC-H-shaped star schema, an `events` stream table and
the `documents` / `embeddings` corpus. Only the tables a workload reads
are written. The same seed gives byte-identical files; numpy's PCG64
stream and pyarrow's parquet writer are both deterministic.

Workload inputs:

- ingest_stream: `drop/part-NNNNN.jsonl` event files in time order, a
  seeded share of corrupt lines and of events moved one file later
  (inside the stream's 2-hour watermark), plus `ingest.json` with the
  planted counts.
- backfill: `orders` + `lineitem` and `changed.json`, the seeded set of
  orders whose modified time moves past the first dump.
- query_mix: every table: the star schema, `events` and the
  `documents` / `embeddings` corpus.
- every workload: `calib/lineitem.parquet` for the calibration probe.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. `orders` is the scale unit of the star schema
# (sf1 = 1.5M orders); the others follow TPC-H proportions.
SIZES = {
    "ingest_stream": {"events": 60_000, "files": 6},
    "backfill": {"orders": 15_000},
    "query_mix": {"orders": 15_000, "events": 10_000, "documents": 500,
                  "embeddings": 500},
}
CALIB_ORDERS = 15_000

CORRUPT_SHARE = 0.01      # share of ingest lines written corrupt
LATE_SHARE = 0.02         # share of events moved into the next file
LATE_WINDOW_S = 5400      # moved events come from the last 1.5 h of a file
CHANGED_SHARE = 0.05      # share of orders modified after the first dump

EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "s")
EVENT_SPAN_S = 30 * 86400
EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
ORDER_T0 = np.datetime64("1995-01-01", "D")
WORDS = np.array(("a the batch row sort query filter hash key group agg join "
                  "scan order window stream spark vector value data table "
                  "column part line merge fast slow small big customer").split())
LANGS = np.array(["en", "de", "fr", "es", "zh"])
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts_us(days: np.ndarray) -> pa.Array:
    stamps = (ORDER_T0 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(stamps, type=pa.timestamp("us"))


def star_schema(rng: np.random.Generator, n_orders: int) -> dict:
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust = max(n_orders // 10, 10)
    n_supp = max(n_orders // 150, 5)
    n_part = max(n_orders * 2 // 15, 20)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odays = rng.integers(0, 2404, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts_us(odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    # TPC-H line shape: every order has 1..7 lines numbered from 1, so
    # (l_orderkey, l_linenumber) is the line's unique key.
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per)
    starts = np.cumsum(per) - per
    lnum = np.arange(len(okey)) - np.repeat(starts, per) + 1
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts_us(rng.integers(1, 2500, n))})
    return t


def events_columns(rng: np.random.Generator, n: int) -> dict:
    """Events in time order at second precision (the producers' format)."""
    secs = np.sort(rng.integers(0, EVENT_SPAN_S, n))
    n_users = max(n // 60, 10)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "secs": secs,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def events_table(cols: dict) -> pa.Table:
    ts = (EVENT_T0 + cols["secs"].astype("timedelta64[s]")).astype("datetime64[us]")
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": cols["event_type"],
        "value": cols["value"],
        "props": cols["props"]})


def _event_lines(c: dict) -> list:
    ts = np.datetime_as_string(EVENT_T0 + c["secs"].astype("timedelta64[s]"))
    props = [json.dumps(p) for p in c["props"]]
    return [
        f'{{"event_id":{e},"ts":"{t.replace("T", " ")}","user_id":{u},'
        f'"event_type":"{k}","value":{v!r},"props":{p}}}'
        for e, t, u, k, v, p in zip(c["event_id"].tolist(), ts,
                                    c["user_id"].tolist(), c["event_type"],
                                    c["value"].tolist(), props)]


def ingest_files(rng: np.random.Generator, out: str, n: int, files: int) -> dict:
    """JSONL drop files in time order, with planted corrupt and late lines.

    File k holds the events of time slice k. A seeded share of events
    from the last `LATE_WINDOW_S` seconds of a slice is written into the
    NEXT file: late, but inside the stream's 2-hour watermark, so none
    may be dropped. A seeded share of lines is truncated mid-record and
    must land in quarantine.
    """
    c = events_columns(rng, n)
    bounds = np.linspace(0, EVENT_SPAN_S, files + 1).astype(np.int64)
    slot = np.searchsorted(bounds, c["secs"], side="right") - 1
    slot = np.minimum(slot, files - 1)
    near_end = c["secs"] >= bounds[slot + 1] - LATE_WINDOW_S
    late = near_end & (slot < files - 1) & (rng.random(n) < LATE_SHARE)
    slot = slot + late
    corrupt = rng.random(n) < CORRUPT_SHARE
    cut = rng.integers(5, 30, n)
    drop = os.path.join(out, "drop")
    os.makedirs(drop, exist_ok=True)
    all_lines = _event_lines(c)
    for k in range(files):
        lines = [all_lines[i][: cut[i]] if corrupt[i] else all_lines[i]
                 for i in np.nonzero(slot == k)[0]]
        with open(os.path.join(drop, f"part-{k:05d}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
    meta = {"files": files, "events": n, "corrupt": int(corrupt.sum()),
            "good": int(n - corrupt.sum()), "late": int(late.sum())}
    with open(os.path.join(out, "ingest.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; a tenth are near-copies of an earlier doc."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centroids."""
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def calibration(out: str) -> None:
    """The fixed table of the calibration probe (seed-independent)."""
    calib = star_schema(np.random.default_rng(0), CALIB_ORDERS)["lineitem"]
    _write(calib, os.path.join(out, "calib", "lineitem.parquet"))


def generate(workload: str, seed: int, out: str) -> dict:
    """Write `workload`'s inputs for `seed` under `out`; return its metadata."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    size = SIZES[workload]
    rng = np.random.default_rng(seed)
    meta = {"workload": workload, "seed": seed}
    calibration(out)
    if workload == "ingest_stream":
        meta.update(ingest_files(rng, out, size["events"], size["files"]))
    elif workload == "backfill":
        t = star_schema(rng, size["orders"])
        for name in ("orders", "lineitem"):
            _write(t[name], os.path.join(out, "sf", f"{name}.parquet"))
        n = size["orders"]
        changed = np.sort(rng.choice(n, int(n * CHANGED_SHARE), replace=False))
        per_order = np.bincount(t["lineitem"]["l_orderkey"].to_numpy(), minlength=n)
        meta.update({"orders": n, "lines": int(per_order.sum()),
                     "changed": [int(x) for x in changed],
                     "changed_lines": int(per_order[changed].sum())})
        with open(os.path.join(out, "changed.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)
    else:
        t = star_schema(rng, size["orders"])
        t["events"] = events_table(events_columns(rng, size["events"]))
        t["documents"] = documents(rng, size["documents"])
        t["embeddings"] = embeddings(rng, size["embeddings"])
        for name, tab in t.items():
            _write(tab, os.path.join(out, "sf", f"{name}.parquet"))
    return meta
