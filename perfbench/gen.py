"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same
arguments write byte-identical files. The program under test only ever
sees the files written here.

- ``star_schema``: the query workloads' star schema (TPC-H-like tables,
  an ``events`` table, a ``documents`` text corpus with appended
  near-duplicates, and clustered unit-norm ``embeddings``), in the column
  names and physical types the workload queries read.
- ``refresh_cycle``: one weekly cycle of raw Oireachtas payloads
  (``members.jsonl``, ``divisions.jsonl``) in the shapes the silver
  builders parse (``tests/test_build_table.py``).
- ``stream_file``: one parquet event file for the streaming merge sink,
  re-delivering a share of earlier ids as identical rows.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _write(path: str, cols: dict) -> int:
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _us(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = (np.asarray(seconds) * 1e6).astype("int64")
    start = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(start + micros, type=pa.timestamp("us"))


def star_schema(out_dir: str, seed: int, sf: float) -> int:
    """Write the ten star-schema parquet files; return total bytes.

    Row counts follow TPC-H proportions (``lineitem`` = 6M × sf); the
    text and vector tables have fixed floors so similarity and dedup
    operators always see non-trivial candidate sets."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(300, int(1_500_000 * sf))
    n_line = max(1200, int(6_000_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    day0 = dt.datetime(1995, 1, 1)
    total = 0

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    total += _write(os.path.join(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    total += _write(os.path.join(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    total += _write(os.path.join(out_dir, "customer.parquet"), {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    total += _write(os.path.join(out_dir, "supplier.parquet"), {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
    total += _write(os.path.join(out_dir, "part.parquet"), {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    total += _write(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _us(day0, rng.integers(0, 2400, n_ord) * 86400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    total += _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _us(day0, rng.integers(1, 2500, n_line) * 86400)})
    gaps = rng.exponential(30 * 86400 / n_evt, n_evt)
    total += _write(os.path.join(out_dir, "events.parquet"), {
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _us(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": rng.integers(0, max(15, n_evt // 66), n_evt),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_evt),
        "value": np.round(rng.exponential(50, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # The corpus shape is fixed and only its content follows the seed:
    # exact duplicate count, a fixed multiset of lengths and languages.
    n_dup = n_doc // 20
    n_base = n_doc - n_dup
    lengths = rng.permutation(10 + np.arange(n_base) * 90 // n_base)
    base = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))
            for n in lengths]
    # near-duplicates: an earlier document with a marker appended
    texts = base + [base[j] + " dup" for j in
                    rng.choice(n_base, n_dup, replace=False)]
    texts = [texts[i] for i in rng.permutation(n_doc)]
    langs = np.repeat(LANGS, np.round(np.array(LANG_P) * n_doc).astype(int))
    langs = rng.permutation(np.resize(langs, n_doc))
    total += _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    dim = 64
    centers = rng.normal(size=(10, dim))
    labels = rng.permutation(np.arange(n_vec) % 10)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype("float32")
    total += _write(os.path.join(out_dir, "embeddings.parquet"), {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return total


PARTIES = ("Party A", "Party B", "Party C", "Party D", "Independent")
CONSTITUENCIES = tuple(f"Constituency {i}" for i in range(40))


def _member(i: int, rng) -> dict:
    code = f"TD{i:04d}"
    start = f"2024-{1 + i % 12:02d}-01"
    return {"member": {
        "memberCode": code, "fullName": f"Member {i} Surname{i % 97}",
        "uri": f"/member/id/{code}",
        "memberships": [{"membership": {
            "uri": f"/membership/{i}",
            "house": {"houseNo": "34", "houseCode": "dail",
                      "uri": "/house/34"},
            "dateRange": {"start": start, "end": None},
            "parties": [{"party": {
                "showAs": PARTIES[int(rng.integers(0, len(PARTIES)))],
                "dateRange": {"start": start, "end": None}}}],
            "represents": [{"represent": {
                "showAs": CONSTITUENCIES[i % len(CONSTITUENCIES)]}}],
            "offices": ([{"office": {
                "showAs": f"Minister for Portfolio {i}",
                "dateRange": {"start": start, "end": None}}}]
                if i % 10 == 0 else [])}}]}}


def refresh_cycle(raw_dir: str, seed: int, cycle: int, *, members: int,
                  divisions: int, votes: int, as_of: dt.date) -> dict:
    """Write one weekly cycle's raw payloads; return what was generated.

    Members are the same roster every cycle (a snapshot table); each
    cycle adds new divisions dated inside its week, so the upserted vote
    history grows cycle over cycle. The returned counts are what the
    output check compares production row counts against."""
    os.makedirs(raw_dir, exist_ok=True)
    rng = np.random.default_rng([seed, cycle])
    page = 50
    roster = [_member(i, np.random.default_rng([seed, i]))
              for i in range(members)]
    with open(os.path.join(raw_dir, "members.jsonl"), "w") as f:
        for p in range(0, members, page):
            f.write(json.dumps({"results": roster[p:p + page]}) + "\n")

    def day(k):
        return (as_of - dt.timedelta(days=int(k))).isoformat()

    def ref(code):
        return {"member": {"memberCode": code,
                           "uri": f"/member/id/{code}"}}

    divs = []
    n_votes = 0
    for d in range(divisions):
        voters = rng.choice(members, size=min(votes, members),
                            replace=False)
        split = int(rng.integers(0, len(voters) + 1))
        ta = [ref(f"TD{v:04d}") for v in voters[:split]]
        nil = [ref(f"TD{v:04d}") for v in voters[split:]]
        n_votes += len(voters)
        divs.append({"division": {
            "uri": f"/div/c{cycle}/d{d}", "date": day(d % 7),
            "house": {"houseNo": "34", "houseCode": "dail"},
            "subject": {"showAs": f"Motion {cycle}.{d}"},
            "outcome": "Carried" if split * 2 > len(voters) else "Lost",
            "tallies": {
                "taVotes": {"members": ta, "showAs": "Tá",
                            "tally": len(ta)},
                "nilVotes": {"members": nil, "showAs": "Níl",
                             "tally": len(nil)}}}})
    with open(os.path.join(raw_dir, "divisions.jsonl"), "w") as f:
        for p in range(0, divisions, page):
            f.write(json.dumps({"results": divs[p:p + page]}) + "\n")
    return {"members": members, "divisions": divisions, "votes": n_votes}


STREAM_SCHEMA = pa.schema([("event_id", pa.int64()),
                           ("user_id", pa.int64()),
                           ("event_type", pa.string()),
                           ("ts", pa.timestamp("us")),
                           ("value", pa.float64())])
STREAM_KINDS = np.array(["click", "view", "purchase"])
REDELIVER = 0.2


def _events(seed: int, ids: np.ndarray) -> pa.Table:
    """The events with these ids: every field a pure function of
    (seed, id)."""
    start = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
                .timestamp() * 1e6)
    return pa.table({
        "event_id": ids,
        "user_id": (ids * 2654435761 + seed) % 500,
        "event_type": STREAM_KINDS[(ids * 40503 + seed) % 3],
        "ts": pa.array(start + ids * 7_000_000 + (ids * 97 + seed) % 1000,
                       type=pa.timestamp("us")),
        "value": ((ids * 1103515245 + seed * 12345) % 100_000) / 100.0},
        schema=STREAM_SCHEMA)


def stream_file(src_dir: str, seed: int, i: int, rows: int) -> int:
    """Write event file ``i``; return its bytes.

    Each file carries ``rows`` × (1 - REDELIVER) new event ids; every file
    after the first also re-delivers REDELIVER × ``rows`` earlier events
    byte-for-byte (at-least-once delivery), which the sink must absorb.
    An event's fields are a pure function of (seed, id), so any file can
    be written on its own."""
    fresh = rows - int(rows * REDELIVER)
    ids = np.arange(i * fresh, (i + 1) * fresh, dtype="int64")
    if i:
        rng = np.random.default_rng([seed, i])
        old = rng.choice(i * fresh, rows - fresh, replace=False)
        ids = np.concatenate([ids, old.astype("int64")])
    table = _events(seed, ids)
    path = os.path.join(src_dir, f"e{i:05d}.parquet")
    tmp = os.path.join(src_dir, f".e{i:05d}.parquet.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)  # the file source must never see a partial file
    return os.path.getsize(path)


def stream_expected_rows(seed: int, files: int, rows: int) -> list:
    """The distinct events in files 0..files-1, as (event_id, user_id,
    event_type, ts in epoch microseconds, value) tuples in id order: the
    batch keep-last merge of everything delivered."""
    fresh = rows - int(rows * REDELIVER)
    t = _events(seed, np.arange(files * fresh, dtype="int64"))
    t = t.set_column(3, "ts", t.column("ts").cast(pa.int64()))
    return list(zip(*(c.to_pylist() for c in t.columns)))
