"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed`` (same seed, same
bytes):

- ``write_tables``: the ten fixture tables the registry's queries scan
  (``events``, ``documents``, ``embeddings`` and the TPC-H-ish star), as
  one parquet file each, with the column names, types and value
  distributions of the seed-42 fixtures described in FIXTURES.md part B, at
  ``DOCS`` documents / ``EVENTS`` events (the sf0.01 shape). The
  timestamp columns (``ts``, ``o_orderdate``, ``l_shipdate``) are written
  as TIMESTAMP(MICROS) not adjusted to UTC, as the seed-42 fixture files
  store them, so ``readers.table`` takes the same TIMESTAMP_NTZ cast on
  both.
- ``write_rucio_corpus``: a nested Rucio raw-event corpus (FIXTURES.md A2,
  the ``{data: struct, metadata: struct}`` envelope) as gzip JSON-lines
  shards, with templated FTS error text on the failed transfers.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCS = 500
EVENTS = 10_000
USERS = 150
EMBEDDINGS = 500
EMBED_DIM = 64
ORDERS = 15_000
LINEITEMS = 60_000
PARTS = 2_000
CUSTOMERS = 1_500
SUPPLIERS = 100

RUCIO_RECORDS = 10_000
RUCIO_SHARDS = 4

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("error", "signup", "purchase", "view", "click")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never shifts
    the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(seed: int) -> pa.Table:
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(DOCS):
        # one document in twenty is a near-duplicate of an earlier one
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(seed: int) -> pa.Table:
    rng = _rng(seed, "events")
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, EVENTS)],
        "value": np.round(np.minimum(rng.exponential(50.0, EVENTS), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
    })


def _embeddings(seed: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    m = rng.standard_normal((EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32()),
    })


def _star(seed: int) -> dict[str, pa.Table]:
    rng = _rng(seed, "star")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, ORDERS), 2),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", ORDERS),
                                pa.timestamp("us")),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW")[j] for j in rng.integers(0, 5, ORDERS)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS, LINEITEMS), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, LINEITEMS), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, LINEITEMS), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, LINEITEMS), pa.int32()),
        "l_quantity": rng.integers(1, 51, LINEITEMS).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, LINEITEMS), 2),
        "l_discount": rng.integers(0, 11, LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, LINEITEMS) / 100.0,
        "l_returnflag": [("N", "R", "A")[j] for j in rng.integers(0, 3, LINEITEMS)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, LINEITEMS)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", LINEITEMS),
                               pa.timestamp("us")),
    })
    adjectives = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
    nouns = ("ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "spring")
    part = pa.table({
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, PARTS), rng.integers(0, 8, PARTS))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, PARTS)],
        "p_type": [("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")[j]
                   for j in rng.integers(0, 6, PARTS)],
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(PARTS) % 1000) / 10.0,
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": [("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                          "HOUSEHOLD")[j] for j in rng.integers(0, 5, CUSTOMERS)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, SUPPLIERS), 2),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    return {"orders": orders, "lineitem": lineitem, "part": part,
            "customer": customer, "supplier": supplier, "nation": nation,
            "region": region}


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten fixture tables to ``out_dir/<name>.parquet``; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"documents": _documents(seed), "events": _events(seed),
              "embeddings": _embeddings(seed), **_star(seed)}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- Rucio raw-event corpus --------------------------------------------------

#: FTS error templates (FIXTURES.md A1 representative messages); the
#: placeholders take hosts, ports, paths, UUIDs and bracketed codes.
_ERROR_TEMPLATES = (
    "SOURCE [{code}] globus_xio: Unable to connect to {host}:2811",
    "TRANSFER [{code}] TRANSFER globus_xio: System error in connect: "
    "Connection refused {host}",
    "Transfer has been forced-killed because it was stalled",
    "Job has been canceled because it stayed in the queue for too long",
    "Reaper 0-1: Deletion NOTFOUND of {scope}:{name} as davs://{host}:2880/"
    "{path} on {rse}",
    "Replica root://{host}:1094//{path} is corrupted.",
    "DESTINATION [{code}] Checksum mismatch for {name} (request {uuid})",
)
_RSES = tuple(f"SITE{i:02d}_DATADISK" for i in range(24))
_ACTIVITIES = ("Staging", "Analysis Input", "Production Input",
               "Data Consolidation", "User Subscriptions")
_SCOPES = ("data18", "mc16", "user.alice", "group.phys")
#: event types and their weights; the two ``*-failed`` types carry error
#: text in ``reason`` and make up FAILURE_SHARE of the corpus
_TYPES = ("transfer-failed", "deletion-failed", "transfer-done",
          "deletion-done", "transfer-submitted")
_TYPE_P = (0.22, 0.08, 0.40, 0.15, 0.15)
FAILURE_SHARE = _TYPE_P[0] + _TYPE_P[1]


def _reason(rng) -> str:
    t = _ERROR_TEMPLATES[int(rng.integers(0, len(_ERROR_TEMPLATES)))]
    return t.format(
        code=int(rng.integers(1, 120)),
        host=f"se{int(rng.integers(1, 60)):02d}.grid{int(rng.integers(1, 9))}.org",
        scope=_SCOPES[int(rng.integers(0, len(_SCOPES)))],
        name=f"file.{int(rng.integers(0, 10**8)):08d}.root",
        path=f"atlas/rucio/{int(rng.integers(0, 256)):02x}/"
             f"{int(rng.integers(0, 256)):02x}/f{int(rng.integers(0, 10**6))}",
        rse=_RSES[int(rng.integers(0, len(_RSES)))],
        uuid=rng.bytes(16).hex())


def _stamps(epochs: np.ndarray) -> list[str]:
    return [str(s).replace("T", " ") for s in epochs.astype("datetime64[s]")]


def _rucio_records(rng, n: int) -> list[dict]:
    types = rng.choice(len(_TYPES), n, p=_TYPE_P)
    created = 1_565_827_200 + rng.integers(0, 86_400, n)  # 2019-08-15
    started = created + rng.integers(1, 600, n)
    duration = rng.integers(1, 3_600, n)
    size = rng.integers(1_000, 5_000_000_000, n)
    src = rng.integers(0, len(_RSES), n)
    dst = rng.integers(0, len(_RSES), n)
    activity = rng.integers(0, len(_ACTIVITIES), n)
    scope = rng.integers(0, len(_SCOPES), n)
    protocol = rng.integers(0, 4, n)
    adler = rng.integers(0, 2**32, n)
    cols = {"created_at": _stamps(created), "submitted_at": _stamps(created + 1),
            "started_at": _stamps(started),
            "transferred_at": _stamps(started + duration)}
    out = []
    for i in range(n):
        etype = _TYPES[types[i]]
        out.append({
            "data": {
                "event_type": etype,
                "reason": _reason(rng) if etype.endswith("failed") else "",
                "src_rse": _RSES[src[i]],
                "dst_rse": _RSES[dst[i]],
                "activity": _ACTIVITIES[activity[i]],
                "scope": _SCOPES[scope[i]],
                "name": f"file.{i:08d}.root",
                "bytes": int(size[i]),
                "file_size": int(size[i]),
                "duration": int(duration[i]),
                **{k: v[i] for k, v in cols.items()},
                "protocol": ("davs", "root", "gsiftp", "srm")[protocol[i]],
                "checksum_adler": f"{int(adler[i]):08x}",
            },
            "metadata": {"timestamp": int(started[i] + duration[i]) * 1000},
        })
    return out


def write_rucio_corpus(seed: int, out_dir: str) -> dict[str, float]:
    """Write RUCIO_RECORDS raw events as RUCIO_SHARDS gzip JSON-lines files
    (fixed gzip mtime, so the bytes depend on ``seed`` only). Returns the
    corpus size and its failure share."""
    os.makedirs(out_dir, exist_ok=True)
    records = _rucio_records(_rng(seed, "rucio"), RUCIO_RECORDS)
    n_failed = sum(r["data"]["event_type"].endswith("failed") for r in records)
    per = RUCIO_RECORDS // RUCIO_SHARDS
    n_bytes = 0
    for s in range(RUCIO_SHARDS):
        body = "".join(json.dumps(r, sort_keys=True) + "\n"
                       for r in records[s * per:(s + 1) * per])
        path = os.path.join(out_dir, f"part-{s:05d}.json.gz")
        with open(path, "wb") as raw, \
                gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as fh:
            fh.write(body.encode())
        n_bytes += os.path.getsize(path)
    return {"records": RUCIO_RECORDS, "failed": n_failed,
            "failure_share": n_failed / RUCIO_RECORDS, "gz_bytes": n_bytes}
