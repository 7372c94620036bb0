"""Seeded input generators: the same seed gives the same bytes."""

import gzip
import hashlib
import json
import os

import pyarrow.parquet as pq

import gen


def _digests(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    for d in ("a", "b"):
        gen.write_tables(3, str(tmp_path / d / "tables"))
        gen.write_rucio_corpus(3, str(tmp_path / d / "rucio"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a and a == b


def test_other_seed_other_bytes(tmp_path):
    gen.write_tables(3, str(tmp_path / "a"))
    gen.write_tables(4, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a.keys() == b.keys()
    assert a["documents.parquet"] != b["documents.parquet"]


def test_tables_shape(tmp_path):
    rows = gen.write_tables(5, str(tmp_path))
    assert rows["documents"] == gen.DOCS and rows["events"] == gen.EVENTS
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    assert any(d["text"].endswith(" dup") for d in docs)
    # TIMESTAMP(MICROS) not adjusted to UTC, as the fixture files store them
    for table, col in (("events", "ts"), ("orders", "o_orderdate"),
                       ("lineitem", "l_shipdate")):
        schema = pq.ParquetFile(tmp_path / f"{table}.parquet").schema
        lt = str(schema.column(schema.names.index(col)).logical_type)
        assert "timeUnit=microseconds" in lt and "isAdjustedToUTC=false" in lt


def test_rucio_corpus_reports_its_failures(tmp_path):
    info = gen.write_rucio_corpus(5, str(tmp_path))
    records = []
    for f in sorted(os.listdir(tmp_path)):
        with gzip.open(tmp_path / f, "rt") as fh:
            records += [json.loads(line) for line in fh]
    failed = [r for r in records if r["data"]["event_type"].endswith("-failed")]
    assert info["records"] == len(records) == gen.RUCIO_RECORDS
    assert info["failed"] == len(failed)
    assert abs(info["failure_share"] - gen.FAILURE_SHARE) < 0.02
    assert all(r["data"]["reason"] for r in failed)

