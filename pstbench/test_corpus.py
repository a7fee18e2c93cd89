"""Self-tests for the benchmark's PST corpus generator.

    python -m pytest pstbench/test_corpus.py -q

A small corpus (same generator, smaller shape) must read back through
``PstArchive`` and ``spark.read.format("pst")`` exactly as the manifest
says; the same seed must give the same bytes and another seed other bytes
with the same shape statistics; the full shape must average the Enron
corpus's bytes per message; and the generator must take nothing from the
reader but ``crypt.DECODE_TABLE``.
"""

from __future__ import annotations

import ast
import hashlib
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402

SMALL = {
    **corpus.SHAPE,
    "partition_size": 128,
    "files": 3,
    "big_files": 1,
    "big_msgs": (300, 340),
    "small_msgs_median": 40,
    "small_msgs_max": 80,
}


def _generate(path, seed: int) -> dict:
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(corpus, "SHAPE", SMALL)
        return corpus.generate(str(path), seed)


@pytest.fixture(scope="module")
def small(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus7")
    return str(d), _generate(d, 7)


def _file_hashes(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
        if f.endswith(".pst")
    }


def test_encode_table_inverts_reader_decode():
    from duckdb_pst_spark.sources.mspst.crypt import DECODE_TABLE

    assert corpus._ENCODE.translate(DECODE_TABLE) == bytes(range(256))


def test_archives_read_back_exactly(small):
    from duckdb_pst_spark.sources.mspst.messaging import PstArchive

    d, m = small
    digests, paths = [], []
    for f in m["per_file"]:
        a = PstArchive(os.path.join(d, f["path"]))
        try:
            assert a.display_name == f["pst_name"]
            nids = a.message_nids()
            assert len(nids) == f["messages"]
            meta = {"pst_name": a.display_name, "record_key": a.record_key}
            for nid in nids:
                row = a.message_row(nid, read_attachment_body=True)
                digests.append(corpus.reader_row_digest({**meta, **row}))
            folders = [
                {k: r[k] for k in ("node_id", "parent_node_id", "display_name")}
                for r in a.folders()
            ]
            assert sorted(folders, key=lambda r: r["node_id"]) == sorted(
                f["folders"], key=lambda r: r["node_id"]
            )
            paths += [f"{f['pst_name']}:{p}" for p in corpus.folder_paths(folders)]
        finally:
            a.close()
    assert len(digests) == m["messages"]
    assert corpus.combine(digests) == m["digest_full"]
    assert corpus.combine(
        hashlib.blake2b(p.encode(), digest_size=8).hexdigest() for p in paths
    ) == m["folder_paths_digest"]


def test_shape_features_present(small):
    _, m = small
    s = m["stats"]
    assert s["big_files"] == SMALL["big_files"]
    assert s["huge_attachments"] >= 1
    assert s["bodies_over_8k"] > 0 and s["html"] > 0 and s["with_attachments"] > 0
    assert SMALL["recipients"][0] <= s["min_recipients"] <= s["max_recipients"] <= SMALL["recipients"][1]
    assert SMALL["folders"][0] <= s["min_folders"] <= s["max_folders"] <= SMALL["folders"][1]
    assert 1 <= s["max_folder_depth"] <= SMALL["folder_depth"]


def test_spark_scan_matches_manifest(small):
    from pyspark.sql import SparkSession

    from duckdb_pst_spark.sources.mspst.datasource import PstDataSource, register

    d, m = small
    glob = os.path.join(d, "*.pst")
    opts = {"path": glob, "read_attachment_body": "true", "partition_size": "128"}
    ds = PstDataSource(opts)
    parts = ds.reader(ds.schema()).partitions()
    # the big file splits at partition_size, so tasks outnumber files
    assert len(parts) > m["files"]

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        register(spark)
        reader = spark.read.format("pst")
        for k, v in opts.items():
            if k != "path":
                reader = reader.option(k, v)
        rows = reader.load(glob).collect()
        assert len(rows) == m["messages"]
        got = corpus.combine(corpus.reader_row_digest(r.asDict()) for r in rows)
        assert got == m["digest_full"]
    finally:
        spark.stop()


def test_same_seed_same_bytes_other_seed_same_shape(small, tmp_path):
    d, m = small
    again = tmp_path / "again"
    m2 = _generate(again, 7)
    assert _file_hashes(str(again)) == _file_hashes(d)
    assert m2["digest_full"] == m["digest_full"]

    other = tmp_path / "other"
    m3 = _generate(other, 8)
    assert set(_file_hashes(str(other)).values()).isdisjoint(_file_hashes(d).values())
    assert m3["files"] == m["files"]
    # sizes and counts come from the shape alone
    assert m3["stats"] == m["stats"]
    assert m3["messages"] == m["messages"]
    assert m3["attachment_bytes"] == m["attachment_bytes"]


def test_full_shape_bytes_per_message(tmp_path):
    d = tmp_path / "full"
    try:
        m = corpus.generate(str(d), 1)
        per_msg = m["bytes"] / m["messages"]
        assert abs(per_msg / corpus.SHAPE["bytes_per_message"] - 1) < 0.15
        assert m["stats"]["big_files"] == corpus.SHAPE["big_files"]
        # attachments over 1 MiB exist but are rare
        assert 0 < m["stats"]["huge_attachments"] < 0.05 * m["messages"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_generator_takes_only_decode_table_from_reader():
    tree = ast.parse(open(os.path.join(HERE, "corpus.py")).read())
    reader_imports = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("duckdb_pst_spark"):
            reader_imports.append((node.module, [a.name for a in node.names]))
        elif isinstance(node, ast.Import):
            assert not any(a.name.startswith("duckdb_pst_spark") for a in node.names)
    assert reader_imports == [("duckdb_pst_spark.sources.mspst.crypt", ["DECODE_TABLE"])]
