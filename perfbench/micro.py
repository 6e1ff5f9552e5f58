"""Operator micro-timings on fixed seeded inputs.

The codecs are timed as plain driver-side calls; the Spark operators
(connected components, minhash, prefix sum, quantiles) run on small seeded
DataFrames in the traced session under their own ``micro:`` job groups. Each
figure is the median of ``REPS`` calls (``SPARK_REPS`` for the Spark
operators, which take seconds each) after one warm-up call. Codec
throughput is counted on the decoded payload: 4 bytes per position for the
bitmap codecs, the file size for Avro, the raster / PCM / frame bytes for
media.
"""

from __future__ import annotations

import os
import time

import numpy as np

from measure import median

REPS = 5
SPARK_REPS = 2


def _timed(fn, reps: int, after=lambda: None) -> float:
    """Median wall of ``reps`` calls of ``fn`` after one warm-up call;
    ``after`` runs between calls, outside the timed region."""
    fn()
    after()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        after()
    return median(times)


def _positions(rng: np.random.Generator) -> np.ndarray:
    sparse = rng.integers(0, 1 << 22, 60_000)
    runs = [np.arange(s, s + 5_000) for s in rng.integers(0, 1 << 22, 3)]
    return np.unique(np.concatenate([sparse, *runs])).astype(np.int64)


def codec_metrics(seed: int, work_dir: str) -> dict[str, float]:
    from iceberg_benchmark_poc_spark.operators import avro, dv_payload, multimodal, roaring

    rng = np.random.default_rng(seed)
    out = {}
    pos = _positions(rng)
    raw_mb = pos.size * 4 / 1e6
    blob = roaring.roaring_serialize(pos, run_optimize=True)
    out["operators.roaring.serialize_mb_s"] = raw_mb / _timed(
        lambda: roaring.roaring_serialize(pos, run_optimize=True), REPS
    )
    out["operators.roaring.deserialize_mb_s"] = raw_mb / _timed(lambda: roaring.roaring_deserialize_np(blob), REPS)
    mdv = dv_payload.encode_positions(pos)
    out["operators.dv_payload.decode_mb_s"] = raw_mb / _timed(lambda: dv_payload.decode_positions_np(mdv), REPS)

    n = 20_000
    ids, vals = rng.integers(0, 1 << 40, n), rng.normal(size=n)
    rows = [(int(i), f"s{int(i) % 9973:05d}", float(v)) for i, v in zip(ids, vals)]
    path = os.path.join(work_dir, "micro.avro")
    avro.write_ocf(path, [("id", "long"), ("s", "string"), ("v", "double")], rows)
    out["operators.avro.read_ocf_mb_s"] = os.path.getsize(path) / 1e6 / _timed(lambda: avro.read_ocf(path), REPS)

    w = h = 128
    gradient = (np.add.outer(np.arange(h), np.arange(w)) % 256).astype(np.uint8)
    gray = (gradient ^ rng.integers(0, 8, (h, w), dtype=np.uint8)).tobytes()
    png = multimodal.encode_png(gray, w, h)
    out["operators.multimodal.decode_png_mb_s"] = w * h / 1e6 / _timed(lambda: multimodal.decode_media(png), REPS)
    pcm = rng.integers(-(1 << 15), 1 << 15, 64_000, dtype=np.int16).astype("<i2").tobytes()
    wav = multimodal.encode_wav(pcm)
    out["operators.multimodal.decode_wav_mb_s"] = len(pcm) / 1e6 / _timed(lambda: multimodal.decode_wav(wav), REPS)
    fw = fh = 64
    frames = [rng.integers(0, 256, fw * fh, dtype=np.uint8).tobytes() for _ in range(8)]
    avi = multimodal.encode_avi(frames, fw, fh)
    out["operators.multimodal.decode_avi_mb_s"] = (
        sum(map(len, frames)) / 1e6 / _timed(lambda: multimodal.decode_avi(avi), REPS)
    )
    return out


def spark_metrics(spark, seed: int, release) -> dict[str, float]:
    """``release()`` unpersists what an operator left pinned, outside timing."""
    import pandas as pd
    from pyspark.sql import functions as F

    from iceberg_benchmark_poc_spark.operators import graph, prefix, quantiles, text

    rng = np.random.default_rng(seed)
    sc = spark.sparkContext

    # 50 chains of 6 nodes, relabelled at random, plus 20 random shortcuts
    labels = rng.permutation(300)
    chain = [(labels[i], labels[i + 1]) for i in range(300) if (i + 1) % 6]
    extra = list(zip(rng.integers(0, 300, 20), rng.integers(0, 300, 20)))
    edges = spark.createDataFrame(pd.DataFrame(chain + extra, columns=["src", "dst"]).astype("int64"))
    shingles = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.repeat(np.arange(2_000), 30), "h": rng.integers(0, 1 << 31, 60_000)})
    )
    values = spark.createDataFrame(
        pd.DataFrame({"k": rng.permutation(100_000), "v": rng.integers(-1_000, 1_000, 100_000)})
    )

    def run(name, action):
        sc.setJobGroup(f"micro:{name}", name)
        return _timed(action, SPARK_REPS, release)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out = {
        "operators.graph.connected_components_star_s": run(
            "cc_star", lambda: noop(graph.connected_components_star(edges))
        ),
        "operators.text.minhash_signatures_s": run("minhash", lambda: noop(text.minhash_signatures(shingles))),
        "operators.prefix.global_prefix_sum_s": run(
            "prefix_sum", lambda: noop(prefix.global_prefix_sum(values, [F.col("k")], F.col("v"), "cum"))
        ),
        "operators.quantiles.exact_quantiles_s": run(
            "quantiles", lambda: quantiles.exact_quantiles(values, F.col("v"), [0.1, 0.5, 0.9]).collect()
        ),
    }
    sc.setJobGroup("micro:done", "")
    return out
