"""Training-set export sink: layout contract checks — partition pruning
structure, per-file row bound, read-back equality, manifest = disk."""

import json
import os
import tempfile

import pyarrow.parquet as pq


def test_write_training_shards_layout_and_manifest(spark):
    from abwcf_spark.pipelines.export import write_training_shards
    from abwcf_spark.queries import training_pipeline_sample

    sample = training_pipeline_sample(spark, "/root/testdata/sf0.001")
    want = {tuple(map(str, r)) for r in sample.collect()}
    assert want, "empty sample — fixture drifted"

    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "train")
        manifest = write_training_shards(
            sample, out, partition_cols=("lang",), max_records_per_file=40
        )

        # hive partition dirs per stratum
        part_dirs = sorted(
            p for p in os.listdir(out) if p.startswith("lang=")
        )
        assert len(part_dirs) >= 2, part_dirs
        assert set(manifest["partitions"]) == set(part_dirs)

        # every data file respects the row bound
        for root, _, files in os.walk(out):
            for f in files:
                if f.endswith(".parquet"):
                    n = pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                    assert 0 < n <= 40, (f, n)

        # read-back equality (lang comes back as the partition column)
        back = spark.read.parquet(out).select(*sample.columns)
        got = {tuple(map(str, r)) for r in back.collect()}
        assert got == want

        # manifest counts certify what's on disk, and the file is loadable
        assert manifest["total_rows"] == len(want)
        with open(os.path.join(out, "_manifest.json")) as f:
            assert json.load(f) == manifest

        # re-export lands the identical row set (stable layout contract)
        out2 = os.path.join(d, "train2")
        m2 = write_training_shards(
            sample, out2, partition_cols=("lang",), max_records_per_file=40
        )
        assert m2["total_rows"] == manifest["total_rows"]
        got2 = {
            tuple(map(str, r))
            for r in spark.read.parquet(out2).select(*sample.columns).collect()
        }
        assert got2 == want


def test_export_roundtrip_empty_sample(spark):
    """A sample that keeps 0 documents writes no data file; the export
    gate must read it back as 0 rows, not fail schema inference."""
    import pandas as pd

    from abwcf_spark.queries import export_roundtrip, training_pipeline_sample

    with tempfile.TemporaryDirectory() as d:
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["too short", "also short text", "x"],
            "lang": ["en", "de", "fr"],
            "source": ["s", "s", "t"],
            "n_chars": [9, 15, 1],
        }).to_parquet(f"{d}/documents.parquet")
        assert training_pipeline_sample(spark, d).count() == 0
        out = export_roundtrip(spark, d)
        assert out.columns == [
            "lang", "n_docs", "sum_tokens", "sum_removed", "manifest_rows",
        ]
        assert out.collect() == []
