"""Unit tests for the JSONL training-shard export sink
(ops/export.py): atomic publish, crash-staging invisibility,
re-export overwrite, and content roundtrip."""

import json
import os

import pytest
from pyspark.errors import AnalysisException

from extractor.ops.export import (
    MANIFEST_NAME,
    export_jsonl_shards,
    read_export_manifest,
)


def _df(spark):
    rows = [(i, i % 3, f"text number {i}") for i in range(30)]
    return spark.createDataFrame(
        rows, "doc_id long, shard long, text string"
    )


def test_export_roundtrip_and_manifest(spark, tmp_path):
    out = str(tmp_path / "shards")
    manifest = export_jsonl_shards(_df(spark), out)
    assert manifest["n_rows"] == 30 and manifest["n_shards"] == 3
    assert manifest["shards"] == {"0": 10, "1": 10, "2": 10}
    # manifest on disk matches the returned one
    assert read_export_manifest(out) == manifest
    # published data reads back complete, with content intact
    back = spark.read.json(out)
    assert back.count() == 30
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got[7] == "text number 7"
    # one gzip file per shard (repartition on shard key)
    for shard_dir in [d for d in os.listdir(out) if d.startswith("shard=")]:
        parts = [f for f in os.listdir(os.path.join(out, shard_dir))
                 if f.endswith(".json.gz")]
        assert len(parts) == 1, shard_dir


def test_export_staging_invisible_until_publish(spark, tmp_path):
    out = str(tmp_path / "shards")
    # simulate a crash: staging dir exists, no published dir
    os.makedirs(out + ".tmp")
    with open(os.path.join(out + ".tmp", "part-orphan.json"), "w") as f:
        f.write('{"doc_id": 999}\n')
    with pytest.raises(FileNotFoundError):
        read_export_manifest(out)
    # the next export attempt overwrites the orphan staging and publishes
    manifest = export_jsonl_shards(_df(spark), out)
    assert manifest["n_rows"] == 30
    assert not os.path.exists(out + ".tmp")
    back = spark.read.json(out)
    assert back.where("doc_id = 999").count() == 0


def test_export_overwrite_replaces_previous(spark, tmp_path):
    out = str(tmp_path / "shards")
    export_jsonl_shards(_df(spark), out)
    smaller = _df(spark).where("doc_id < 6")
    manifest = export_jsonl_shards(smaller, out)
    assert manifest["n_rows"] == 6
    assert spark.read.json(out).count() == 6
    assert not os.path.exists(out + ".bak")


def test_export_manifest_certifies_disk_not_plan(spark, tmp_path):
    """The manifest is computed from the staged files, so hand-editing
    the published files afterwards makes the manifest visibly stale —
    i.e. it certified what was written, not the upstream DataFrame."""
    out = str(tmp_path / "shards")
    manifest = export_jsonl_shards(_df(spark), out)
    with open(os.path.join(out, MANIFEST_NAME)) as f:
        on_disk = json.load(f)
    assert on_disk == manifest


def test_export_empty_input_publishes_empty_manifest(spark, tmp_path):
    out = str(tmp_path / "shards")
    empty = _df(spark).where("doc_id < 0")
    manifest = export_jsonl_shards(empty, out)
    assert manifest == {"shards": {}, "n_rows": 0, "n_shards": 0}
    assert read_export_manifest(out) == manifest


def test_export_restores_backup_after_crash_window(spark, tmp_path):
    """A crash between the publish renames leaves only ``.bak``; the next
    attempt restores it first, so even a failing export leaves the last
    published export readable."""
    out = str(tmp_path / "shards")
    first = export_jsonl_shards(_df(spark), out)
    os.rename(out, out + ".bak")  # simulate the crash window
    with pytest.raises(AnalysisException):
        export_jsonl_shards(_df(spark).drop("shard"), out)
    assert read_export_manifest(out) == first
    assert not os.path.exists(out + ".bak")
