"""Structured Streaming tests: foreachBatch cache ingestion and the
``jobs/stream_sketches.py`` CLI built on it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marker_spark.cache.sketch_cache import OPEN_END, SketchCache
from marker_spark.params import CacheParams
from marker_spark.streaming import stream_into_cache

SF_DIR = "/root/testdata/sf0.001"
DAY = 86_400


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """Events split into 3 chronological parquet chunk files."""
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .withColumn("marker", F.concat_ws("|", F.col("event_id"), F.col("props")))
        .orderBy("ts")
    )
    d = tmp_path / "stream_src"
    d.mkdir()
    rows = ev.count()
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "all"))
    pdf = spark.read.parquet(str(tmp_path / "all")).toPandas().sort_values("ts")
    for i, chunk in enumerate([pdf.iloc[:rows // 3], pdf.iloc[rows // 3 : 2 * rows // 3], pdf.iloc[2 * rows // 3 :]]):
        chunk.to_parquet(
            d / f"chunk-{i}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    return str(d), pdf


def test_stream_into_cache(spark, stream_dir, tmp_path):
    src, pdf = stream_dir
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    params = CacheParams(duration=10 * DAY, lifespan=30 * DAY, fp=0.001, total_capacity=100_000)
    cache = SketchCache(params, ckpt_dir=str(tmp_path / "ckpt"))
    q = stream_into_cache(stream, cache, ts_col="ts", marker_col="marker",
                          checkpoint_dir=str(tmp_path / "stream_ckpt"))
    q.awaitTermination(180)
    assert not q.isActive
    probes = [m.encode() for m in pdf["marker"].tolist()[:500]]
    assert cache.lookup_from(0, OPEN_END, probes).all()
    assert any(b.n_markers > 0 for b in cache.buckets)
    # ageing ran: manifest written, at least one bucket SEALED, and its
    # sketch checkpoint file exists on disk (manifest existence alone is
    # satisfied by any save() call)
    import json as _json
    import os

    assert os.path.exists(tmp_path / "ckpt" / "manifest.json")
    with open(tmp_path / "ckpt" / "manifest.json") as f:
        man = _json.load(f)
    sealed = [b for b in man["buckets"] if b["sealed"]]
    assert sealed, "no bucket sealed during the stream"
    for b in sealed:
        assert os.path.exists(tmp_path / "ckpt" / f"{b['start']}.sketch"), b


def test_stream_sketches_job_end_to_end(spark, stream_dir, tmp_path):
    """The spark-submit streaming job runs end to end programmatically:
    consumes the chunked source with availableNow, builds + ages the
    cache, writes its checkpoint + manifest, and answers lookups."""
    import json as _json
    import os as _os

    from jobs.stream_sketches import main as job_main
    from marker_spark.cache.sketch_cache import OPEN_END, SketchCache
    from marker_spark.params import CacheParams

    src, pdf = stream_dir
    ck = str(tmp_path / "job_ck")
    job_main([
        "--source", src, "--ckpt", ck,
        "--duration", str(10 * DAY), "--lifespan", str(30 * DAY),
        "--capacity", "100000", "--available-now",
    ])
    assert _os.path.exists(_os.path.join(ck, "manifest.json"))
    with open(_os.path.join(ck, "manifest.json")) as f:
        manifest = _json.load(f)
    assert any(b["sealed"] for b in manifest["buckets"])
    # resume from the job's checkpoint and answer lookups
    now = int(pdf["ts"].astype("int64").max() // 10**9)
    params = CacheParams(duration=10 * DAY, lifespan=30 * DAY, fp=0.001,
                         total_capacity=100_000)
    r = SketchCache.resume(params, ck, now=now)
    # resume keeps the newest num_filters-1 sealed buckets (reference
    # parity, markercache.cpp:77-93), so probe the MIDDLE of the stream
    # — markers the restored window must answer with zero FN.  The
    # dirty-rewrite fix is what makes this hold: sealed buckets that
    # kept receiving event-time merges are re-checkpointed, so the
    # restored counts match the manifest.
    n = len(pdf)
    probes = [m.encode() for m in pdf["marker"].tolist()[n // 2 : n // 2 + 200]]
    assert r.lookup_from(0, OPEN_END, probes).all()
    restored_counts = {b.start: b.n_markers for b in r.buckets}
    with open(_os.path.join(ck, "manifest.json")) as f:
        man2 = _json.load(f)
    overlap = [b for b in man2["buckets"] if b["start"] in restored_counts]
    assert overlap, "no manifest bucket was restored — parity check is vacuous"
    for b in overlap:
        assert restored_counts[b["start"]] == b["n_markers"], b


@pytest.mark.parametrize("flag,value", [
    ("--duration", "0"), ("--lifespan", "-1"),
    ("--fp", "2"), ("--capacity", "0"),
])
def test_stream_sketches_job_rejects_bad_sizing(spark, stream_dir, tmp_path,
                                                 flag, value):
    """Bad cache sizing fails at argument parsing: no stream starts and
    no checkpoint dir is created (it would otherwise fail only inside
    the first micro-batch's foreachBatch)."""
    from jobs.stream_sketches import main as job_main

    src, _ = stream_dir
    ck = tmp_path / "job_ck"
    with pytest.raises(SystemExit):
        job_main(["--source", src, "--ckpt", str(ck), "--available-now",
                  flag, value])
    assert not ck.exists()
    assert spark.streams.active == []
