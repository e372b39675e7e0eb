"""Unit/property tests for the behavior-analytics batch: staged gate
equivalence, Markov mass accounting, histogram-quantile error bounds, and
the real WAV codec roundtrip."""

import io
import wave

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_lang_quality_cols_matches_column_exprs(spark, sf_dir):
    """The staged projection must be bit-identical to the reference Column
    expressions (detect_lang/quality_score) — it exists only for plan shape."""
    from realtime_spark.operators.text import (
        detect_lang,
        lang_quality_cols,
        quality_score,
    )
    from realtime_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.select(
        "doc_id",
        quality_score(F.col("text")).alias("q"),
        detect_lang(F.col("text")).alias("lg"),
    )
    new = lang_quality_cols(d, "text", lang_out="lg", q_out="q").select(
        "doc_id", "q", "lg"
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))


def test_blocked_resolve_best_matches_composed_pipeline(spark, sf_dir):
    """The dedup-free resolution (one map-side-combined agg, no pair-set
    exchange) must be bit-identical — values AND schema nullability — to
    blocked_candidates -> score_pairs -> resolve_best, including pairs
    produced by BOTH blocking passes (first-pass flags must not double
    count) and NULL blocking keys (eqNullSafe passes)."""
    from pyspark.sql import functions as F

    from realtime_spark.operators.linkage import (
        blocked_candidates,
        blocked_resolve_best,
        resolve_best,
        score_pairs,
    )

    left = spark.createDataFrame(
        [(1, "ann", "x"), (2, "bob", None), (3, "cat", "y"), (4, None, "z")],
        "id bigint, name string, grp string",
    )
    right = spark.createDataFrame(
        [(10, "ann", "x"), (11, "ann", "q"), (12, "bob", None),
         (13, "dog", "y"), (14, None, "z")],
        "rid bigint, name string, grp string",
    )
    keys = lambda: [  # noqa: E731 - rebuilt per pipeline (Columns are trees)
        (F.col("l_name"), F.col("r_name")),
        (F.col("l_grp"), F.col("r_grp")),
    ]
    comps = lambda: [  # noqa: E731
        (F.col("l_name") == F.col("r_name"), 700, -300),
        (F.col("l_grp") == F.col("r_grp"), 400, -100),
    ]
    old = resolve_best(
        score_pairs(
            blocked_candidates(left, right, keys(), "l_id", "r_rid"), comps()
        ),
        "l_id", "r_rid", 500,
    )
    new = blocked_resolve_best(
        left, right, keys(), comps(), "l_id", "r_rid", 500
    )
    assert old.schema == new.schema
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_markov_stationary_mass_bounded(spark, sf_dir):
    """Power iteration with floor division only ever loses mass (never
    creates it), and every observed state stays in the frame."""
    from realtime_spark.operators.markov import (
        MICRO,
        stationary_distribution,
        transitions,
    )
    from realtime_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    tr = transitions(e)
    n_states = (
        tr.select(F.col("from_type").alias("s"))
        .unionByName(tr.select(F.col("to_type").alias("s")))
        .distinct()
        .count()
    )
    st = stationary_distribution(tr, iterations=4)
    rows = st.collect()
    assert len(rows) == n_states
    total = sum(r["mass_micro"] for r in rows)
    assert total <= n_states * MICRO
    # floor losses are at most (#states × #iterations × max-fanout) units;
    # with 5 states the retained mass must stay within 1% of the start
    assert total >= n_states * MICRO * 0.99


def test_histogram_quantile_within_bin_width(spark, sf_dir):
    """The histogram estimate must land within one bin width of the exact
    percentile (the approximation's designed error bound)."""
    from realtime_spark.operators.stats import histogram_quantiles
    from realtime_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    est = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            e, "value", 0.0, 500.0, 50, (0.5, 0.9)
        ).collect()
    }
    exact = e.agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
    ).collect()[0]
    width = 500.0 / 50
    assert abs(est[0.5] - exact["p50"]) <= width
    assert abs(est[0.9] - exact["p90"]) <= width


def test_wav_roundtrip_real_codec():
    """synth_wav output must be a genuine RIFF/WAVE container the stdlib
    decoder accepts, with the documented synthesis formula recoverable."""
    from realtime_spark.operators.multimodal import WAV_RATE, _synth_pcm

    payload = _synth_pcm(42)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    with wave.open(io.BytesIO(payload), "rb") as w:
        assert w.getframerate() == WAV_RATE
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 1
        n = w.getnframes()
        frames = w.readframes(n)
    assert n == 800 + 42 % 100
    assert list(frames[:5]) == [(42 * 7 + i * 13) % 256 for i in range(5)]


def test_wav_stats_distributed_matches_local(spark):
    """The mapInPandas decode path agrees with a driver-side decode."""
    from realtime_spark.operators.multimodal import (
        _synth_pcm,
        synth_wav,
        wav_pcm_stats,
    )

    ids = spark.range(0, 20).select(F.col("id").alias("media_id"))
    out = {r["media_id"]: r for r in wav_pcm_stats(synth_wav(ids)).collect()}
    for mid in range(20):
        raw = _synth_pcm(mid)
        with wave.open(io.BytesIO(raw), "rb") as w:
            frames = w.readframes(w.getnframes())
        samples = list(frames)
        r = out[mid]
        assert r["n_samples"] == len(samples)
        assert r["sum_amp"] == sum(samples)
        assert r["sum_sq_dev"] == sum((s - 128) ** 2 for s in samples)


def test_phrase_hits_counts_adjacent_occurrences(spark):
    from realtime_spark.operators.search import phrase_hits, positional_postings

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "beta alpha nothing here"),
            (3, "alpha beta alpha beta alpha beta"),
        ],
        "doc_id bigint, text string",
    )
    post = positional_postings(df, "doc_id", "text")
    hits = {r["doc"]: r["n_hits"] for r in phrase_hits(post, ("alpha", "beta")).collect()}
    assert hits == {1: 2, 3: 3}


def test_pgm_roundtrip_and_malformed():
    from realtime_spark.operators.multimodal import _synth_pgm, decode_pgm

    d = decode_pgm(_synth_pgm(9))
    assert (d["width"], d["height"], d["maxval"]) == (8 + 9 % 5, 6 + 9 % 4, 255)
    # comment/whitespace-tolerant header
    ok = decode_pgm(b"P5\n# c\n 4  2\n255\n" + bytes(range(8)))
    assert ok["sum_px"] == sum(range(8))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_pgm(b"P6\n1 1\n255\n\x00")  # PPM magic
    with _pytest.raises(ValueError):
        decode_pgm(_synth_pgm(3)[:-2])  # truncated raster


def test_triangle_stats_toy_graph(spark):
    from realtime_spark.operators.graph import triangle_stats

    # K3 (1,2,3) + a pendant edge (3,4): nodes 1,2 have 1 triangle, cc=1;
    # node 3 has degree 3, 1 triangle, cc = 2/(3*2) = 0.333333
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a bigint, doc_b bigint"
    )
    out = {r["node"]: r for r in triangle_stats(edges).collect()}
    assert out[1]["triangles"] == 1 and out[1]["clustering"] == 1.0
    assert out[2]["triangles"] == 1 and out[2]["clustering"] == 1.0
    assert out[3]["triangles"] == 1 and out[3]["clustering"] == 0.333333
    assert out[4]["triangles"] == 0 and out[4]["clustering"] == 0.0


def test_streaming_cusum_monitor_equals_batch(spark, sf_dir, tmp_path):
    """Fold the event stream into the hourly count store micro-batch by
    micro-batch, evaluate CUSUM on the accumulated store, and require
    bit-equality with the batch detector over the full event log."""
    from realtime_spark.operators.stats import cusum_from_hourly, cusum_hours
    from realtime_spark.sources.testdata import load_table
    from realtime_spark.streaming.monitors import (
        read_counts,
        run_hourly_count_stream,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    e.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = run_hourly_count_stream(
        stream,
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        keys=["event_type"],
    )
    q.awaitTermination(300)

    counts = read_counts(spark, str(tmp_path / "store"))
    streamed = cusum_from_hourly(counts, ["event_type"])
    batch = cusum_hours(e, ["event_type"])
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )




def _pseudo_bytes(seed: int, n: int) -> bytes:
    """Deterministic pseudo-random payload (md5 chain) — periodic patterns
    can dodge gear boundaries entirely, random-ish content is the design
    target for content-defined chunking."""
    import hashlib as _hl

    out = bytearray()
    block = seed.to_bytes(8, "big")
    while len(out) < n:
        block = _hl.md5(block).digest()
        out.extend(block)
    return bytes(out[:n])


class TestContentDefinedChunking:
    def test_boundaries_deterministic_and_bounded(self):
        from realtime_spark.operators.chunking import chunk_boundaries

        payload = _pseudo_bytes(1, 10000)
        ends = chunk_boundaries(payload)
        assert ends == chunk_boundaries(payload)
        assert ends[-1] == len(payload)
        sizes = [e - s for s, e in zip([0] + ends[:-1], ends)]
        assert all(s <= 1024 for s in sizes)
        assert all(s >= 64 for s in sizes[:-1])  # tail may be short
        assert len(sizes) > 10  # avg ~256B over 10kB

    def test_edit_realigns_unlike_fixed_blocks(self):
        """The content-defined property: one inserted byte near the start
        perturbs only boundary-local chunks; most chunk digests re-align.
        Fixed-size blocks would shift EVERY downstream block."""
        from realtime_spark.operators.chunking import chunk_payload

        payload = _pseudo_bytes(2, 20000)
        edited = payload[:100] + b"\x42" + payload[100:]
        d1 = {d for _, _, d in chunk_payload(payload)}
        d2 = {d for _, _, d in chunk_payload(edited)}
        shared = len(d1 & d2) / len(d1)
        assert shared > 0.8, f"only {shared:.0%} chunks re-aligned"
        # fixed 256-byte blocks as the contrast: almost nothing survives
        fixed1 = {payload[i:i + 256] for i in range(0, len(payload), 256)}
        fixed2 = {edited[i:i + 256] for i in range(0, len(edited), 256)}
        assert len(fixed1 & fixed2) / len(fixed1) < 0.1

    def test_distributed_matches_local(self, spark):
        from realtime_spark.operators.chunking import cdc_chunks, chunk_payload

        rows = [(i, _pseudo_bytes(i, 3000)) for i in range(8)]
        df = spark.createDataFrame(rows, "doc bigint, payload binary")
        got = {}
        for r in cdc_chunks(df).collect():
            got.setdefault(r["doc"], []).append(
                (r["chunk_idx"], r["offset"], r["length"], r["digest"])
            )
        for doc, payload in rows:
            exp = [
                (i, off, ln, dg)
                for i, (off, ln, dg) in enumerate(chunk_payload(payload))
            ]
            assert sorted(got[doc]) == exp

    def test_dedup_stats_counts_shared_chunks_once(self, spark):
        from realtime_spark.operators.chunking import cdc_chunks, chunk_dedup_stats

        base = _pseudo_bytes(9, 8000)
        rows = [(1, base), (2, base[:4000] + b"\x99" + base[4000:])]
        df = spark.createDataFrame(rows, "doc bigint, payload binary")
        stats = chunk_dedup_stats(cdc_chunks(df)).collect()[0]
        # near-identical blobs: stored bytes well under total bytes
        assert stats["distinct_bytes"] < stats["total_bytes"] * 0.7
        assert stats["dedup_ratio"] < 0.7


def test_luhn_expr_matches_pure_python(spark):
    """Differential: the array-expression Luhn checksum equals the textbook
    implementation over random digit strings of every relevant length."""
    import random

    def luhn_py(s: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(s), start=1):
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return len(s) > 0 and total % 10 == 0

    rnd = random.Random(20260814)
    rows = [
        ("".join(rnd.choice("0123456789") for _ in range(ln)),)
        for ln in range(1, 20)
        for _ in range(30)
    ]
    from realtime_spark.operators.text import luhn_valid_expr

    df = spark.createDataFrame(rows, "d string")
    got = {r["d"]: r["v"] for r in df.select(
        "d", luhn_valid_expr(F.col("d")).alias("v")
    ).collect()}
    for (s,) in rows:
        assert got[s] == luhn_py(s), s


def test_streaming_quantile_monitor_equals_batch(spark, sf_dir, tmp_path):
    """Bin counts folded micro-batch by micro-batch + quantiles_from_bins
    must equal histogram_quantiles over the full event log, bit for bit."""
    from realtime_spark.operators.stats import (
        histogram_quantiles,
        quantiles_from_bins,
    )
    from realtime_spark.sources.testdata import load_table
    from realtime_spark.streaming.monitors import (
        read_counts,
        run_bin_count_stream,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    e.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = run_bin_count_stream(
        stream,
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        keys=["event_type"],
        value_col="value",
        lo=0.0,
        hi=500.0,
        nbins=50,
    )
    q.awaitTermination(300)
    counts = read_counts(spark, str(tmp_path / "store"))
    streamed = quantiles_from_bins(
        counts, ["event_type"], 0.0, 10.0, (0.5, 0.9, 0.99)
    )
    batch = histogram_quantiles(
        e, "value", 0.0, 500.0, 50, (0.5, 0.9, 0.99), keys=["event_type"]
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_zip_crc_matches_container_metadata(spark):
    """The container's central-directory CRC32 must equal zlib.crc32 of the
    extracted content for every member (integrity check the oracle can't
    express — DuckDB has no crc32)."""
    import zlib

    from realtime_spark.operators.multimodal import synth_zip, zip_members

    ids = spark.range(0, 12).select(F.col("id").alias("media_id"))
    rows = zip_members(synth_zip(ids)).collect()
    assert len(rows) > 0
    for r in rows:
        mid = r["media_id"]
        k = int(r["member"].split("_")[1].split(".")[0])
        content = (f"m{mid}k{k}" * (10 + k)).encode()
        assert r["crc32"] == zlib.crc32(content)
        assert r["n_bytes"] == len(content)


def test_gif_traversal_roundtrip_and_malformed():
    from realtime_spark.operators.multimodal import (
        _synth_gif,
        parse_gif_structure,
    )

    d = parse_gif_structure(_synth_gif(5))
    assert d["n_frames"] == 1 + 5 % 4 and d["width"] == 10 + 5 % 6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_gif_structure(b"RIFFxxxx")  # wrong magic
    with _pytest.raises(ValueError):
        parse_gif_structure(_synth_gif(1)[:-2])  # missing trailer


def test_ols_state_merge_equals_full(spark, sf_dir):
    """Incremental regression maintenance: sufficient statistics of two
    disjoint halves sum-merged and finalized must be BIT-EQUAL to the
    one-pass ols_trend over all rows (integer sums are associative)."""
    from realtime_spark.operators.stats import (
        merge_ols_states,
        ols_from_state,
        ols_state,
        ols_trend,
    )
    from realtime_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    h1 = e.filter(F.col("event_id") % 2 == 0)
    h2 = e.filter(F.col("event_id") % 2 == 1)
    merged = merge_ols_states(
        ols_state(h1, ["event_type"]),
        ols_state(h2, ["event_type"]),
        ["event_type"],
    )
    inc = {
        r["event_type"]: (r["n"], r["slope_cents_per_sec"], r["intercept_cents"])
        for r in ols_from_state(merged, ["event_type"], round_digits=6).collect()
    }
    full = {
        r["event_type"]: (r["n"], r["slope_cents_per_sec"], r["intercept_cents"])
        for r in ols_trend(e, ["event_type"], round_digits=6).collect()
    }
    assert inc == full
