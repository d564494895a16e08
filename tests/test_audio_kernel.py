"""The per-clip kernel contract every payload-rewriting ``*_clips``
wrapper shares (lakehouse/audio.py ``_clip_udf`` + ``_swap_payload``):

(a) an undecodable payload never drops or fails the row — its payload
    and struct-lineage columns come back null, every other column intact;
(b) each wrapper's output column order is pinned (lineage after
    ``codec``, or before ``bytes`` for pitch/tempo/noise/speed);
(c) the wrapper is ONE Arrow eval in a map-only plan.

Plus the feature extractors' declared error rows, and the one ``dur_ms``
rule: HALF_UP, the same value ingest derives.
"""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pytest
from pyspark.sql import functions as F

from lakehouse import audio as A
from lakehouse.synth import synth_clips_df, wrap_wav

KEEP = ["clip_id", "transcript", "ingest_ts", "event_date"]
PAYLOAD = ["bytes", "sr_hz", "dur_ms", "codec"]


def _crop(df):
    return A.crop_clips(
        df.withColumn("t_start_ms", F.lit(100)).withColumn(
            "t_end_ms", F.lit(300)
        )
    )


# name -> (wrapper over a clips frame, columns null on a decode error,
#          output column order)
CASES = {
    "shift_dc_clips": (
        lambda df, noise: A.shift_dc_clips(df, 0.1),
        {"bytes"},
        ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
         "ingest_ts", "event_date"],
    ),
    "resample_clips": (
        lambda df, noise: A.resample_clips(df, 8000),
        {"bytes", "sr_hz", "dur_ms"},
        KEEP + PAYLOAD,
    ),
    "normalize_clips": (
        lambda df, noise: A.normalize_clips(df),
        {"bytes", "sr_hz", "dur_ms", "gain_db"},
        KEEP + PAYLOAD + ["gain_db"],
    ),
    "compress_dynamics_clips": (
        lambda df, noise: A.compress_dynamics_clips(df),
        {"bytes", "sr_hz", "dur_ms", "reduction_db"},
        KEEP + PAYLOAD + ["reduction_db"],
    ),
    "trim_silence_clips": (
        lambda df, noise: A.trim_silence_clips(df),
        {"bytes", "sr_hz", "dur_ms", "trimmed_head_ms", "trimmed_tail_ms"},
        KEEP + PAYLOAD + ["trimmed_head_ms", "trimmed_tail_ms"],
    ),
    "segment_clips": (
        lambda df, noise: A.segment_clips(df, 100, 300),
        {"bytes", "sr_hz", "dur_ms"},
        KEEP + PAYLOAD,
    ),
    "crop_clips": (
        lambda df, noise: _crop(df),
        {"bytes", "sr_hz", "dur_ms"},
        KEEP + ["t_start_ms", "t_end_ms"] + PAYLOAD,
    ),
    "augment_clips": (
        lambda df, noise: A.augment_clips(df, seed=1),
        {"bytes", "sr_hz", "dur_ms", "speed", "gain_db", "noise_snr_db"},
        KEEP + PAYLOAD + ["speed", "gain_db", "noise_snr_db"],
    ),
    "reverb_clips": (
        lambda df, noise: A.reverb_clips(df, seed=1),
        {"bytes", "sr_hz", "dur_ms", "rt60_ms", "drr_db"},
        KEEP + PAYLOAD + ["rt60_ms", "drr_db"],
    ),
    "speed_perturb_clips": (
        lambda df, noise: A.speed_perturb_clips(df),
        {"bytes", "sr_hz", "dur_ms"},
        KEEP + ["speed_factor"] + PAYLOAD,
    ),
    "pitch_shift_clips": (
        lambda df, noise: A.pitch_shift_clips(df, 1.2),
        {"bytes", "sr_hz", "dur_ms"},
        KEEP + ["pitch_factor"] + PAYLOAD,
    ),
    "time_stretch_clips": (
        lambda df, noise: A.time_stretch_clips(df, 1.2),
        {"bytes", "sr_hz", "dur_ms"},
        KEEP + ["stretch_rate"] + PAYLOAD,
    ),
    "mix_noise_clips": (
        lambda df, noise: A.mix_noise_clips(df, noise),
        {"bytes", "sr_hz", "dur_ms", "noise_id", "mixed", "noise_snr_db"},
        KEEP + ["noise_id", "mixed", "noise_snr_db"] + PAYLOAD,
    ),
    "denoise_clips": (
        lambda df, noise: A.denoise_clips(df),
        {"bytes", "sr_hz", "dur_ms", "noise_floor_db"},
        KEEP + PAYLOAD + ["noise_floor_db"],
    ),
    "simulate_telephony_clips": (
        lambda df, noise: A.simulate_telephony_clips(df),
        {"bytes", "sr_hz", "dur_ms"},
        KEEP + PAYLOAD + ["channel"],
    ),
    "transcode_clips": (
        lambda df, noise: A.transcode_clips(df, "mulaw"),
        {"bytes"},
        ["clip_id", "sr_hz", "dur_ms", "transcript", "ingest_ts",
         "event_date", "bytes", "codec"],
    ),
}


@pytest.fixture(scope="module")
def frames(spark):
    """Three synthetic clips, the first with an undecodable payload, and
    a small noise corpus for ``mix_noise_clips``."""
    df = synth_clips_df(spark, 3, seed=5, n_days=1)
    bad = sorted(r.clip_id for r in df.select("clip_id").collect())[0]
    df = df.withColumn(
        "bytes",
        F.when(
            F.col("clip_id") == bad, F.lit(bytearray(b"not a wav"))
        ).otherwise(F.col("bytes")),
    )
    noise = synth_clips_df(spark, 4, start=100, seed=6, n_days=1)
    return df, noise, bad


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(CASES))
def test_decode_error_row_survives(frames, name):
    wrap, nulls, _cols = CASES[name]
    df, noise, bad = frames
    before = {r.clip_id: r.asDict() for r in df.collect()}[bad]
    out = wrap(df, noise).collect()
    # speed perturbation fans each clip out and prefixes the new ids
    rows = [r.asDict() for r in out if r.clip_id.endswith(bad)]
    assert rows, name
    changed = nulls | {"codec"}
    if name == "speed_perturb_clips":
        changed |= {"clip_id"}
        assert len(rows) == 3
    assert len(out) == (9 if name == "speed_perturb_clips" else 3)
    for row in rows:
        for c in nulls:
            assert row[c] is None, (name, c, row[c])
        for c, v in before.items():
            if c not in changed:
                assert row[c] == v, (name, c)
    good = [r for r in out if not r.clip_id.endswith(bad)]
    assert all(r.bytes is not None for r in good), name


@pytest.mark.parametrize("name", sorted(CASES))
def test_output_column_order(frames, name):
    wrap, _nulls, cols = CASES[name]
    df, noise, _bad = frames
    assert wrap(df, noise).columns == cols


@pytest.mark.parametrize("name", sorted(CASES))
def test_one_arrow_eval_map_only(frames, name):
    wrap, _nulls, _cols = CASES[name]
    df, noise, _bad = frames
    plan = _plan(wrap(df, noise))
    assert plan.count("ArrowEvalPython") == 1, plan
    if name == "mix_noise_clips":
        # the noise-bucket equi-join is the one shuffle mix needs
        assert "CartesianProduct" not in plan, plan
    else:
        assert "Exchange" not in plan, plan


def test_dur_ms_is_half_up_like_ingest(spark, tmp_path):
    """A 40-sample 16 kHz clip lasts 2.5 ms: HALF_UP gives 3 (what
    ``ingest_wav_dir`` derives for the same bytes); half-to-even would
    give 2."""
    raw = wrap_wav(np.full(40, 0.5, dtype=np.float32), 16000, "pcm16")
    (tmp_path / "loud.wav").write_bytes(raw)
    ingested = A.ingest_wav_dir(spark, str(tmp_path)).collect()
    assert [r.dur_ms for r in ingested] == [3]
    df = spark.createDataFrame(
        [("loud", bytearray(raw))], "clip_id string, bytes binary"
    )
    r = A.trim_silence_clips(df).collect()[0]
    assert r.trimmed_head_ms == 0 and r.trimmed_tail_ms == 0
    assert r.dur_ms == 3


def test_feature_extractors_declare_the_error_row(frames):
    """The extractors led by ``ok`` give ``ok=False`` plus nulls for an
    undecodable payload; the others give all-null. A zero-sample clip
    has no dominant frequency: ``ok=False`` too."""
    df, _noise, bad = frames
    empty = bytearray(wrap_wav(np.zeros(0, dtype=np.float32), 16000))
    df = df.withColumn(
        "bytes",
        F.when(F.col("clip_id") == bad, F.col("bytes")).otherwise(
            F.lit(empty)
        ),
    )
    out = A.with_dominant_freq(
        A.with_spectral_features(
            A.with_audio_fingerprint(A.measure_loudness_clips(df))
        )
    ).select(
        "clip_id",
        "lufs",
        "afp",
        "spectral",
        "dominant",
        A.make_spectrogram_udf()(F.col("bytes")).alias("spec"),
        A.audio_mfcc(F.col("bytes")).alias("mfcc"),
        A.audio_features_ext(F.col("bytes")).alias("qc"),
        A.curate_features(F.col("bytes")).alias("cur"),
    )
    rows = {r.clip_id: r for r in out.collect()}
    r = rows.pop(bad)
    for s in (r.spectral, r.dominant, r.spec, r.mfcc):
        assert s.ok is False and all(v is None for v in list(s)[1:]), s
    assert r.afp is None and r.lufs is None
    assert all(v is None for v in r.qc) and all(v is None for v in r.cur)
    for e in rows.values():  # decodable, zero samples
        assert e.spectral.ok and e.spec.ok and e.mfcc.ok
        assert e.dominant.ok is False and e.dominant.dominant_hz is None
        assert list(e.qc) == [0.0] * 5 and e.afp is not None
