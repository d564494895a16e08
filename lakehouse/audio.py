"""Vectorized audio decode / validate / fingerprint (Arrow batch UDFs).

``BASELINE.json#input_hint`` mandates: all decode/validation of audio
bytes through vectorized pandas/Arrow UDFs, no per-row Python at the
Spark boundary. There is no ``soundfile`` in the environment, so WAV
parsing is pure numpy (``frombuffer`` over the RIFF data chunk), which
is both dependency-free and fast (no resampling/codec work — the table
stores raw PCM containers; the ``codec`` column gates the decode path).

The per-row invariant used by every maintenance-parity test lives here:
``pcm_sha1`` — a SHA-1 over the decoded PCM byte stream. Maintenance ops
never touch payload bytes, so the fingerprint must survive
append→compact→cluster→expire→merge unchanged; the full SNR/allclose
check (synth reference vs decoded) runs in pytest on samples.

One per-clip kernel. Every per-clip UDF here is a numpy *step* run by
``_clip_map``: per Arrow batch it decodes each payload once, calls
``step(sr, samples, *row_args)``, encodes a rewritten payload (PCM16;
the transcode UDF names its target codec) and builds the result columns.
Every payload-rewriting ``*_clips`` wrapper then swaps the payload in
one projection pair, ``_swap_payload``: the UDF struct's ``bytes,
sr_hz, dur_ms`` replace the stored ones, ``codec`` becomes the literal
target codec, and the step's lineage columns follow ``codec`` (or
precede ``bytes`` — pitch shift, time stretch, noise mixing, speed
perturbation). Every wrapper reads and writes the ``bytes`` column.

Decode errors. A payload that does not decode never fails a batch and
never drops a row in the harness: a rewrite yields null bytes, sr_hz,
dur_ms and lineage; a feature extractor with an ``ok`` field yields
``ok=False`` plus nulls; a scalar UDF yields null. A few UDFs keep
their own policy, written out where they live: ``pcm_sha1`` returns
``"DECODE_ERROR"``, ``synth_snr_db`` / ``pair_snr_db`` return -inf,
``audio_info`` / ``wav_header`` record the error text, the one-to-many
splitters (``split_on_silence_clips``, energy ``word_crop_examples``)
skip the clip, and ``make_mix_udf`` leaves a clip unmixed when its
noise payload does not decode.

``dur_ms``. A transform that changes the sample count derives
``dur_ms`` once, in ``_dur_ms``: ``int(1000 * n / sr + 0.5)``, HALF_UP
— the value ``ingest_wav_dir``'s ``F.round`` gives for the same bytes.
"""

from __future__ import annotations

import hashlib
import struct
from itertools import repeat
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_wav(raw: bytes) -> Tuple[int, np.ndarray]:
    """Parse a RIFF/WAVE container → (sample_rate, float32 samples).

    Walks chunks properly (tolerates extra chunks before ``data``).
    Supports PCM16 / PCM8 / IEEE float32 / G.711 mu-law / G.711 A-law
    mono — the codecs synth.py emits.
    """
    if raw is None or len(raw) < 44 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos = 12
    fmt_code = bits = sr = block_align = fact_samples = None
    data: Optional[bytes] = None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (size,) = struct.unpack_from("<I", raw, pos + 4)
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, _ch, sr, _br, block_align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
        elif cid == b"fact" and size >= 4:
            (fact_samples,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_code is None or data is None or sr is None:
        raise ValueError("missing fmt/data chunk")
    if fmt_code == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32767.0
    elif fmt_code == 1 and bits == 8:
        samples = (np.frombuffer(data, dtype="u1").astype(np.float32) - 128.0) / 127.0
    elif fmt_code == 3 and bits == 32:
        samples = np.frombuffer(data, dtype="<f4").astype(np.float32)
    elif fmt_code == 7 and bits == 8:  # G.711 mu-law
        from .g711 import mulaw_decode

        samples = mulaw_decode(np.frombuffer(data, dtype="u1"))
    elif fmt_code == 6 and bits == 8:  # G.711 A-law
        from .g711 import alaw_decode

        samples = alaw_decode(np.frombuffer(data, dtype="u1"))
    elif fmt_code == 17 and bits == 4:  # IMA/DVI ADPCM
        from .adpcm import adpcm_decode

        samples = adpcm_decode(
            data, block_align=int(block_align), n_samples=fact_samples
        )
    else:
        raise ValueError(f"unsupported wav encoding fmt={fmt_code} bits={bits}")
    return int(sr), samples


def snr_db(reference: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio of ``test`` against ``reference`` in dB."""
    n = min(len(reference), len(test))
    if n == 0:
        return float("-inf")
    ref = reference[:n].astype(np.float64)
    noise = ref - test[:n].astype(np.float64)
    p_sig = float(np.mean(ref**2))
    p_noise = float(np.mean(noise**2))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_noise) if p_sig > 0 else float("-inf")


# --- the per-clip kernel ------------------------------------------------------

_PAYLOAD = ("bytes", "sr_hz", "dur_ms", "codec")
_SCALAR_DTYPES = {T.LongType: "Int64", T.DoubleType: "float64"}


def _dur_ms(n: int, sr: int) -> int:
    """Duration of ``n`` samples at ``sr`` Hz in whole ms, HALF_UP."""
    return int(1000 * n / sr + 0.5)


def _clip_map(step, out_type, codec: str = "pcm16"):
    """The Arrow batch body every per-clip UDF shares. Per row: decode
    the payload once, run ``step(sr, x, *args)`` (``args`` = that row's
    values of any extra UDF columns), build the output row. The output
    shape follows ``out_type``:

    - a struct led by ``bytes, sr_hz, dur_ms`` (a payload rewrite): the
      step returns ``(y, sr_out, *lineage)``; ``y`` is encoded as
      ``codec`` at ``sr_out`` and ``dur_ms`` is ``_dur_ms(len(y))``.
      ``y=None`` means unchanged: the stored bytes pass through as is;
    - a struct led by ``ok`` (a feature extractor): the step returns the
      other fields and ``ok`` is True;
    - any other struct: the step returns every field;
    - ``BinaryType``: the step returns samples, encoded at the input rate;
    - any other scalar: the step returns the value.

    A decode error — or a step returning None — gives the error row:
    ``ok=False`` plus nulls when led by ``ok``, else all nulls."""
    fields = out_type.names if isinstance(out_type, T.StructType) else None
    rewrite = fields is not None and fields[:3] == list(_PAYLOAD[:3])
    flagged = fields is not None and fields[0] == "ok"
    encode = isinstance(out_type, T.BinaryType)
    error = None
    if fields is not None:
        error = (False if flagged else None,) + (None,) * (len(fields) - 1)

    def clip_map(raw: pd.Series, *args: pd.Series) -> pd.DataFrame:
        from .synth import wrap_wav

        rows = []
        for b, a in zip(raw, zip(*args) if args else repeat(())):
            try:
                sr, x = decode_wav(b)
            except (ValueError, struct.error):
                rows.append(error)
                continue
            r = step(sr, x, *a)
            if r is None:
                r = error
            elif rewrite:
                y, sr_out, *lineage = r
                out = bytes(b) if y is None else wrap_wav(y, sr_out, codec)
                n = len(x if y is None else y)
                r = (out, sr_out, _dur_ms(n, sr_out), *lineage)
            elif flagged:
                r = (True, *r)
            elif encode:
                r = wrap_wav(r, sr, codec)
            rows.append(r)
        if fields is None:
            dtype = _SCALAR_DTYPES.get(type(out_type), object)
            return pd.Series(rows, dtype=dtype)
        cols = zip(*rows) if rows else [()] * len(fields)
        return pd.DataFrame(
            {f: pd.Series(c, dtype=object) for f, c in zip(fields, cols)}
        )

    return clip_map


def _clip_udf(step, out_type, codec: str = "pcm16"):
    """``_clip_map`` as a pandas UDF returning ``out_type``."""
    return F.pandas_udf(_clip_map(step, out_type, codec), out_type)


def _swap_payload(df, x, lineage=(), *, first=False, cols=None, codec=None):
    """The payload swap of every rewriting ``*_clips`` wrapper: evaluate
    the clip-map UDF column ``x`` once, then project the pass-through
    columns, the struct's ``bytes, sr_hz, dur_ms``, ``codec='pcm16'``
    and the lineage columns — after ``codec``, or before ``bytes`` when
    ``first``. A lineage entry is a struct field name or a ``(name,
    Column)`` pair, the Column free to read the struct as ``__x``.
    Pass-through columns are ``cols`` (default ``df.columns``) minus the
    payload and lineage names, so re-running a wrapper replaces its own
    lineage rather than duplicating it.

    With ``codec`` set, ``x`` is the re-encoded bytes themselves (a
    codec-only rewrite; sr_hz and dur_ms pass through) and ONE
    projection appends ``bytes`` and ``codec``."""
    names = [c if isinstance(c, str) else c[0] for c in lineage]
    swap = ("bytes", "codec") if codec else (*_PAYLOAD, *names)
    others = [c for c in cols or df.columns if c not in swap]
    if codec:
        return df.select(*others, x.alias("bytes"), F.lit(codec).alias("codec"))
    lin = [
        F.col(f"__x.{c}").alias(c) if isinstance(c, str) else c[1].alias(c[0])
        for c in lineage
    ]
    payload = [F.col(f"__x.{c}").alias(c) for c in _PAYLOAD[:3]]
    payload.append(F.lit("pcm16").alias("codec"))
    return df.select("*", x.alias("__x")).select(
        *others, *(lin + payload if first else payload + lin)
    )


# --- Spark-facing vectorized UDFs --------------------------------------------

AUDIO_INFO_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)


@F.pandas_udf(AUDIO_INFO_TYPE)
def audio_info(raw: pd.Series) -> pd.DataFrame:
    """Batch decode+validate: header sanity, sample count, RMS level."""
    out = {"ok": [], "sr_hz": [], "n_samples": [], "rms": [], "error": []}
    for b in raw:
        try:
            sr, samples = decode_wav(b)
            out["ok"].append(True)
            out["sr_hz"].append(sr)
            out["n_samples"].append(len(samples))
            out["rms"].append(float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0)
            out["error"].append(None)
        except (ValueError, struct.error) as e:
            out["ok"].append(False)
            out["sr_hz"].append(None)
            out["n_samples"].append(None)
            out["rms"].append(None)
            out["error"].append(str(e))
    return pd.DataFrame(out)


@F.pandas_udf(T.StringType())
def pcm_sha1(raw: pd.Series) -> pd.Series:
    """SHA-1 of the decoded PCM byte stream — the rewrite-parity
    fingerprint (invariant across every maintenance operation)."""

    def one(b):
        if b is None:
            return None
        try:
            _sr, samples = decode_wav(b)
        except (ValueError, struct.error):
            return "DECODE_ERROR"
        return hashlib.sha1(samples.tobytes()).hexdigest()

    return raw.map(one)


@F.pandas_udf(T.DoubleType())
def synth_snr_db(raw: pd.Series, idx: pd.Series, seed: pd.Series) -> pd.Series:
    """SNR of the stored clip against its regenerated synth reference —
    distributed form of the per-row allclose invariant (SNR ≥ 30 dB)."""
    from .synth import synth_pcm

    out = []
    for b, i, s in zip(raw, idx, seed):
        try:
            sr, decoded = decode_wav(b)
        except (ValueError, struct.error):
            out.append(float("-inf"))
            continue
        ref = synth_pcm(int(s), int(i), sr, len(decoded))
        out.append(snr_db(ref, decoded))
    return pd.Series(out, dtype="float64")


def with_audio_features(df):
    """Attach decoded features as a struct column (one Arrow exchange)."""
    return df.withColumn("audio", audio_info(F.col("bytes")))


# --- raw WAV directory ingest (binaryFile source -> clips schema) ------------

WAV_HEADER_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

_FMT_CODECS = {
    (1, 16): "pcm16",
    (1, 8): "pcm8",
    (3, 32): "f32",
    (7, 8): "mulaw",
    (6, 8): "alaw",
    (17, 4): "adpcm",
}


@F.pandas_udf(WAV_HEADER_TYPE)
def wav_header(raw: pd.Series) -> pd.DataFrame:
    """Header-only RIFF/WAVE walk (same chunk discipline as
    ``decode_wav`` but NO sample decode): sample rate, sample count
    (data bytes / block align) and the codec name. One Arrow batch
    pass; malformed containers surface ``ok=false`` + error instead of
    raising, so ingest can quarantine them."""
    ok, srs, ns, codecs, errs = [], [], [], [], []
    for b in raw:
        try:
            if b is None or len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                raise ValueError("not a RIFF/WAVE container")
            pos = 12
            fmt_code = bits = sr = None
            data_len = fact_samples = None
            while pos + 8 <= len(b):
                cid = b[pos : pos + 4]
                (size,) = struct.unpack_from("<I", b, pos + 4)
                if cid == b"fmt ":
                    fmt_code, _ch, sr, _br, ba, bits = struct.unpack_from(
                        "<HHIIHH", b, pos + 8
                    )
                elif cid == b"fact" and size >= 4:
                    (fact_samples,) = struct.unpack_from("<I", b, pos + 8)
                elif cid == b"data":
                    data_len = min(size, len(b) - pos - 8)
                pos += 8 + size + (size & 1)
            if fmt_code is None or data_len is None or sr is None:
                raise ValueError("missing fmt/data chunk")
            codec = _FMT_CODECS.get((fmt_code, bits))
            if codec is None:
                raise ValueError(f"unsupported wav format {fmt_code}/{bits}")
            if codec == "adpcm":
                # 4-bit blocks: true count is the fact chunk; padded
                # block math is the fallback (lakehouse/adpcm.py)
                from .adpcm import samples_per_block

                n = (
                    fact_samples
                    if fact_samples is not None
                    else (data_len // ba) * samples_per_block(ba)
                )
            else:
                n = data_len // max(1, bits // 8)
            ok.append(True)
            srs.append(sr)
            ns.append(n)
            codecs.append(codec)
            errs.append(None)
        except (ValueError, struct.error) as e:
            ok.append(False)
            srs.append(None)
            ns.append(None)
            codecs.append(None)
            errs.append(str(e))
    return pd.DataFrame(
        {
            "ok": pd.Series(ok, dtype="boolean"),
            "sr_hz": pd.Series(srs, dtype="Int32"),
            "n_samples": pd.Series(ns, dtype="Int64"),
            "codec": codecs,
            "error": errs,
        }
    )


def ingest_wav_dir(spark, path: str, *, transcripts=None, recursive=True):
    """Bulk-ingest a directory tree of raw ``.wav`` files into the
    clips schema — the engine's file-drop source (the reference's
    equivalent surface is raw events landing on S3 before the stream,
    README.md pipeline diagram). Returns a DataFrame in CLIPS_SCHEMA
    order, ready for ``Table.append`` (or ``validate_split`` first).

    Scale shape: Spark's ``binaryFile`` source parallelizes listing and
    reads (one task per file group, no driver listing bottleneck for
    object stores with many prefixes); header fields come from ONE
    Arrow batch pass that walks chunk headers without decoding samples;
    everything else is JVM projections. ``clip_id`` is the file stem;
    ``ingest_ts`` is the file's modification time (deterministic
    re-ingest). Malformed files keep their bytes with codec=NULL and a
    ``ingest_error`` column for quarantine routing.

    ``transcripts``: optional (clip_id, transcript) frame joined in
    (left — clips without transcripts keep NULL).
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .option("recursiveFileLookup", str(bool(recursive)).lower())
        .load(path)
    )
    h = df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)\.wav$", 1).alias("clip_id"),
        F.col("content").alias("bytes"),
        wav_header(F.col("content")).alias("__h"),
        F.col("modificationTime").alias("ingest_ts"),
    )
    out = h.select(
        "clip_id",
        "bytes",
        F.col("__h.sr_hz").alias("sr_hz"),
        F.when(
            F.col("__h.sr_hz") > 0,
            F.round(F.col("__h.n_samples") * 1000 / F.col("__h.sr_hz"))
            .cast("int"),
        ).alias("dur_ms"),
        F.col("__h.codec").alias("codec"),
        F.lit(None).cast("string").alias("transcript"),
        "ingest_ts",
        F.to_date("ingest_ts").alias("event_date"),
        F.col("__h.error").alias("ingest_error"),
    )
    if transcripts is not None:
        out = (
            out.drop("transcript")
            .join(transcripts.select("clip_id", "transcript"), "clip_id", "left")
            .select(
                "clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                "transcript", "ingest_ts", "event_date", "ingest_error",
            )
        )
    return out


# --- DSP transforms (pure numpy; the multimodal transform surface) -----------

AUDIO_FEATURES_EXT_TYPE = T.StructType(
    [
        T.StructField("peak", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),          # zero-crossing rate
        T.StructField("silence_ratio", T.DoubleType()),  # |x| < 1% FS
        T.StructField("clipping_ratio", T.DoubleType()),  # |x| > 99% FS
        T.StructField("dc_offset", T.DoubleType()),      # mean sample value
    ]
)


def _qc_features(sr: int, x: np.ndarray):
    """Batch quality features for training-data curation: peak level,
    zero-crossing rate, silence/clipping ratios and DC offset — the
    standard audio-QC screen (a mis-biased ADC shows as dc_offset, a
    hot gain stage as clipping_ratio) — all numpy reductions over the
    decoded clip; an empty clip measures all zeros."""
    if len(x) == 0:
        return (0.0,) * 5
    return (
        float(np.max(np.abs(x))),
        float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))),
        float(np.mean(np.abs(x) < 0.01)),
        float(np.mean(np.abs(x) > 0.99)),
        float(np.mean(x)),
    )


audio_features_ext = _clip_udf(_qc_features, AUDIO_FEATURES_EXT_TYPE)


def make_shift_dc_udf(offset: float):
    """DC bias shift (x + offset, hard-limited): the injection half of
    DC handling — used to synthesize mis-biased-ADC fixtures for QC
    gates; pair with ``audio_features_ext.dc_offset`` for detection and
    ``normalize_clips`` for correction."""
    return _clip_udf(
        lambda sr, x: np.clip(
            x.astype(np.float64) + offset, -0.99997, 0.99997
        ).astype(np.float32),
        T.BinaryType(),
    )


def shift_dc_clips(df, offset: float):
    """Shift every clip's DC bias; ``bytes`` and ``codec`` are replaced
    in place (sr_hz and dur_ms are unchanged)."""
    return df.withColumn(
        "bytes", make_shift_dc_udf(offset)(F.col("bytes"))
    ).withColumn("codec", F.lit("pcm16"))


def _resample_linear(x: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Linear-interpolation resample (numpy-native; no scipy in env).

    Adequate for speech-rate conversions; a windowed-sinc kernel would
    drop cleanly into this same batch shape if the deps appear."""
    if sr_in == sr_out or len(x) == 0:
        return x
    n_out = max(1, int(round(len(x) * sr_out / sr_in)))
    src_pos = np.arange(n_out, dtype=np.float64) * (sr_in / sr_out)
    return np.interp(
        src_pos, np.arange(len(x), dtype=np.float64), x
    ).astype(np.float32)


def _resample_sinc(
    x: np.ndarray, sr_in: int, sr_out: int, taps: int = 16
) -> np.ndarray:
    """Windowed-sinc (Hann) resample — the anti-aliasing path linear
    interpolation lacks: a downsample low-passes at the TARGET Nyquist
    (cutoff = sr_out/sr_in), so out-of-band energy is rejected instead
    of folded. ``taps`` samples each side; fully vectorized as a
    (block × 2·taps) kernel matmul, chunked so the scratch stays a few
    MB per clip regardless of clip length."""
    if sr_in == sr_out or len(x) == 0:
        return x
    n_out = max(1, int(round(len(x) * sr_out / sr_in)))
    ratio = sr_in / sr_out
    c = min(1.0, sr_out / sr_in)
    pos = np.arange(n_out, dtype=np.float64) * ratio
    base = np.floor(pos).astype(np.int64)
    frac = pos - base
    offs = np.arange(-taps + 1, taps + 1, dtype=np.float64)
    xp = np.pad(x.astype(np.float64), (taps, taps + 1))
    out = np.empty(n_out, dtype=np.float64)
    block = 32768
    for s in range(0, n_out, block):
        t = offs[None, :] - frac[s : s + block, None]
        k = (
            c
            * np.sinc(c * t)
            * (0.5 + 0.5 * np.cos(np.pi * np.clip(t / taps, -1.0, 1.0)))
        )
        idx = base[s : s + block, None] + offs[None, :].astype(np.int64)
        out[s : s + block] = (xp[idx + taps] * k).sum(axis=1)
    return np.clip(out, -1.0, 1.0).astype(np.float32)


RESAMPLED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
    ]
)


def make_resample_udf(target_sr: int, method: str = "linear"):
    """Vectorized resample: decode batch → interp/sinc → re-encode
    PCM16 WAV. Returns a (bytes, sr_hz, dur_ms) struct so callers can
    swap the payload columns in one projection."""
    if method not in ("linear", "sinc"):
        raise ValueError(f"unknown resample method: {method!r}")
    kernel = _resample_linear if method == "linear" else _resample_sinc
    return _clip_udf(
        lambda sr, x: (kernel(x, sr, target_sr), target_sr), RESAMPLED_TYPE
    )


def resample_clips(df, target_sr: int, method: str = "linear"):
    """Rewrite the audio payload at ``target_sr`` (bytes/sr_hz/dur_ms
    swapped in a single projection; codec normalized to pcm16).
    ``method="sinc"`` takes the anti-aliased windowed-sinc path —
    required when downsampling content with energy above the target
    Nyquist; ``"linear"`` (default, byte-stable with earlier rounds) is
    adequate for band-limited speech-rate conversions."""
    return _swap_payload(
        df, make_resample_udf(target_sr, method)(F.col("bytes"))
    )


NORMALIZED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("gain_db", T.DoubleType()),
    ]
)


def make_normalize_udf(mode: str = "peak", target: float = 0.9):
    """Vectorized loudness normalization (the standard pre-training
    levelling pass): decode batch → scalar gain → re-encode PCM16.

    ``mode="peak"``: scale so max|sample| == target (clipping-safe by
    construction). ``mode="rms"``: scale so RMS == target, then
    hard-limit into [-1, 1) (documented loudness-over-peak tradeoff).
    ``mode="lufs"``: scale so BS.1770 integrated loudness == target
    (interpret ``target`` in LUFS, e.g. -23.0 — the EBU R128 program
    level), hard-limited like rms; loudness is scale-covariant, so the
    gain is exact (no iteration needed). Returns (bytes, sr_hz,
    dur_ms, gain_db) so callers can both swap the payload and keep the
    applied gain as lineage.
    """
    if mode not in ("peak", "rms", "lufs"):
        raise ValueError(f"unknown normalize mode: {mode!r}")

    def step(sr, x):
        if mode == "lufs":
            cur = integrated_lufs(x, sr) if len(x) else None
            gain = 10.0 ** ((target - cur) / 20.0) if cur is not None else 1.0
        else:
            ref = (
                float(np.max(np.abs(x)))
                if mode == "peak"
                else float(np.sqrt(np.mean(x.astype(np.float64) ** 2)))
            ) if len(x) else 0.0
            gain = target / ref if ref > 0 else 1.0
        y = np.clip(x * gain, -0.99997, 0.99997).astype(np.float32)
        return y, sr, float(20.0 * np.log10(gain)) if gain > 0 else None

    return _clip_udf(step, NORMALIZED_TYPE)


def normalize_clips(df, mode: str = "peak", target: float = 0.9):
    """Level every clip (payload swap in one projection + gain_db kept;
    re-levelling a frame that already carries gain_db replaces it)."""
    return _swap_payload(
        df, make_normalize_udf(mode, target)(F.col("bytes")), ["gain_db"]
    )


# --- Dynamic-range compression (telephony/broadcast simulation) --------------

COMPRESSED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("reduction_db", T.DoubleType()),
    ]
)


def drc_pcm(
    x: np.ndarray,
    sr: int,
    threshold_db: float = -20.0,
    ratio: float = 4.0,
    frame_ms: int = 20,
    makeup_db: float = 0.0,
) -> Tuple[np.ndarray, float]:
    """Block-RMS downward compressor: frames louder than ``threshold_db``
    are pulled toward it with slope ``1 - 1/ratio``; sub-threshold
    frames pass untouched. The gain track is computed per frame,
    smoothed over 3 frames (the attack/release stand-in — an IIR
    envelope would be a per-sample Python loop; a moving average keeps
    the whole kernel vectorized and deterministic), then linearly
    interpolated between frame centers so gain changes never step
    mid-frame. Returns (samples, max gain reduction applied in dB)."""
    if len(x) == 0:
        return x, 0.0
    frame = max(1, sr * frame_ms // 1000)
    n_frames = (len(x) + frame - 1) // frame
    xp = np.pad(x.astype(np.float64), (0, n_frames * frame - len(x)))
    rms = np.sqrt(np.mean(xp.reshape(n_frames, frame) ** 2, axis=1))
    level_db = 20.0 * np.log10(np.maximum(rms, 1e-10))
    over = np.maximum(level_db - threshold_db, 0.0)
    gain_db = -over * (1.0 - 1.0 / float(ratio))
    if n_frames >= 3:
        sm = np.convolve(gain_db, np.ones(3) / 3.0, mode="same")
        sm[0] = (gain_db[0] + gain_db[1]) / 2.0
        sm[-1] = (gain_db[-1] + gain_db[-2]) / 2.0
        gain_db = sm
    centers = (np.arange(n_frames) + 0.5) * frame
    g = np.interp(np.arange(len(x), dtype=np.float64), centers, gain_db)
    y = x.astype(np.float64) * 10.0 ** ((g + makeup_db) / 20.0)
    y = np.clip(y, -0.99997, 0.99997).astype(np.float32)
    return y, float(-gain_db.min())


def make_compress_udf(
    threshold_db: float, ratio: float, frame_ms: int, makeup_db: float
):
    def step(sr, x):
        y, red = drc_pcm(x, sr, threshold_db, ratio, frame_ms, makeup_db)
        return y, sr, red

    return _clip_udf(step, COMPRESSED_TYPE)


def compress_dynamics_clips(
    df,
    threshold_db: float = -20.0,
    ratio: float = 4.0,
    frame_ms: int = 20,
    makeup_db: float = 0.0,
):
    """Dynamic-range compression augmentation (the telephony/broadcast
    loudness-processing channel ASR robustness recipes simulate):
    map-only, ONE Arrow decode→gain-track→encode pass, deterministic
    (no RNG ⇒ partitioning/retry invariant). ``reduction_db`` kept as
    lineage (max gain reduction applied per clip)."""
    udf = make_compress_udf(threshold_db, ratio, frame_ms, makeup_db)
    return _swap_payload(df, udf(F.col("bytes")), ["reduction_db"])


TRIMMED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("trimmed_head_ms", T.IntegerType()),
        T.StructField("trimmed_tail_ms", T.IntegerType()),
    ]
)


def make_trim_silence_udf(threshold_db: float = -40.0, frame_ms: int = 20):
    """Vectorized leading/trailing silence removal: frame the signal
    (``frame_ms`` windows), compute per-frame RMS in dBFS via one
    reshape (no Python inner loop), and keep [first, last] frame above
    ``threshold_db``. An all-silent clip collapses to zero samples
    (dur_ms=0) rather than nulling out — the row stays joinable."""

    def step(sr, x):
        hop = max(1, int(sr * frame_ms / 1000))
        n_frames = (len(x) + hop - 1) // hop
        padded = np.zeros(n_frames * hop, dtype=np.float64)
        padded[: len(x)] = x
        frame_rms = np.sqrt((padded.reshape(n_frames, hop) ** 2).mean(axis=1))
        with np.errstate(divide="ignore"):
            frame_db = 20.0 * np.log10(frame_rms)
        loud = np.nonzero(frame_db >= threshold_db)[0]
        if len(loud):
            lo, hi = int(loud[0]) * hop, min(len(x), (int(loud[-1]) + 1) * hop)
        else:
            lo = hi = 0
        head = int(round(1000 * lo / sr))
        return x[lo:hi], sr, head, int(round(1000 * (len(x) - hi) / sr))

    return _clip_udf(step, TRIMMED_TYPE)


def trim_silence_clips(df, threshold_db: float = -40.0, frame_ms: int = 20):
    """Strip head/tail silence from every clip; keeps trim amounts as
    lineage columns (payload swap in one projection)."""
    return _swap_payload(
        df,
        make_trim_silence_udf(threshold_db, frame_ms)(F.col("bytes")),
        ["trimmed_head_ms", "trimmed_tail_ms"],
    )


def make_segment_udf(start_ms: int, end_ms: int):
    """Vectorized time-slice (the audio analog of image crop /
    video frame-sample): keep samples in [start_ms, end_ms)."""

    def step(sr, x):
        lo = min(len(x), int(start_ms * sr / 1000))
        return x[lo : min(len(x), int(end_ms * sr / 1000))], sr

    return _clip_udf(step, RESAMPLED_TYPE)


def segment_clips(df, start_ms: int, end_ms: int):
    """Trim every clip to [start_ms, end_ms); payload columns swap in one
    projection, mirroring ``resample_clips``."""
    return _swap_payload(df, make_segment_udf(start_ms, end_ms)(F.col("bytes")))


def _crop_step(sr, x, s_ms, e_ms):
    lo = max(0, min(len(x), int(int(s_ms) * sr / 1000)))
    return x[lo : max(lo, min(len(x), int(int(e_ms) * sr / 1000)))], sr


_crop_udf = _clip_udf(_crop_step, RESAMPLED_TYPE)


def crop_clips(df, start_col="t_start_ms", end_col="t_end_ms"):
    """PER-ROW time-slice: each row supplies its own [start, end)
    window (columns, not literals) — the shape a training-example
    extractor needs (crop every aligned word / VAD segment in one
    pass). ``segment_clips`` is the constant-window special case.
    One Arrow batch pass; out-of-range windows clamp to the clip."""
    return _swap_payload(
        df,
        _crop_udf(
            F.col("bytes"),
            F.col(start_col).cast("long"),
            F.col(end_col).cast("long"),
        ),
    )


WORD_CROP_ENERGY_TYPE = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("word", T.StringType()),
        T.StructField("t_start_ms", T.LongType()),
        T.StructField("t_end_ms", T.LongType()),
        T.StructField("span_idx", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ]
)


def word_crop_examples(
    df,
    id_col: str = "clip_id",
    transcript_col: str = "transcript",
    alignment: str = "uniform",
    **vad_kw,
):
    """ASR training-example extractor: align words, then crop each
    word's audio window — one row per (clip, word) carrying its OWN
    payload. Both modes are pure maps (zero shuffles at any corpus
    size).

    ``alignment="uniform"``: `transcripts.align_uniform` arithmetic via
    posexplode (bytes stay on every word row, crop is one Arrow pass).
    ``alignment="energy"``: silence-aware windows confined to energy-VAD
    voiced spans (`transcripts.energy_word_windows`, same kernel as
    `align_energy`) — alignment AND crop share ONE decode per clip
    (the uniform path decodes once per word row), and each row keeps
    its ``span_idx`` lineage; ``vad_kw`` forwards threshold_db /
    frame_ms / min_silence_ms.
    """
    if alignment == "energy":
        from .transcripts import energy_word_windows

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from .synth import wrap_wav

            for pdf in batches:
                out = {f.name: [] for f in WORD_CROP_ENERGY_TYPE.fields}
                for cid, raw, text in zip(
                    pdf[id_col], pdf["bytes"], pdf[transcript_col]
                ):
                    try:
                        sr, x = decode_wav(raw)
                    except (ValueError, struct.error):
                        continue
                    for (pos, word, a, b, sidx, _m) in energy_word_windows(
                        x, sr, text, **vad_kw
                    ):
                        lo = min(len(x), max(0, int(sr * a / 1000)))
                        hi = min(len(x), max(lo, int(sr * b / 1000)))
                        y = x[lo:hi]
                        out["clip_id"].append(cid)
                        out["pos"].append(pos)
                        out["word"].append(word)
                        out["t_start_ms"].append(int(a))
                        out["t_end_ms"].append(int(b))
                        out["span_idx"].append(sidx)
                        out["bytes"].append(wrap_wav(y, sr, "pcm16"))
                        out["sr_hz"].append(sr)
                        out["dur_ms"].append(_dur_ms(len(y), sr))
                        out["codec"].append("pcm16")
                yield pd.DataFrame(
                    out, columns=WORD_CROP_ENERGY_TYPE.names
                )

        return df.select(id_col, "bytes", transcript_col).mapInPandas(
            gen, WORD_CROP_ENERGY_TYPE
        )
    if alignment != "uniform":
        raise ValueError(f"unknown alignment mode: {alignment!r}")
    words = df.select(
        F.col(id_col),
        F.col("bytes"),
        F.col("dur_ms").cast("long").alias("_dur"),
        F.posexplode(F.split(F.col(transcript_col), " ")).alias(
            "pos", "word"
        ),
        F.size(F.split(F.col(transcript_col), " ")).alias("_n"),
    ).select(
        id_col,
        "pos",
        "word",
        "bytes",
        F.expr("(_dur * pos) DIV _n").alias("t_start_ms"),
        F.expr("(_dur * (pos + 1)) DIV _n").alias("t_end_ms"),
    )
    return crop_clips(words)


# --- perceptual fingerprint + near-dup detection -------------------------------


def fingerprint64(x: np.ndarray) -> int:
    """64-bit perceptual fingerprint of a decoded clip.

    Haitsma & Kalker's published audio-fingerprint recipe ("A Highly
    Robust Audio Fingerprinting System", 2002), reduced to one word per
    clip: split the clip into 33 equal time frames, take the SIGN of
    the frame-to-frame delta of two features — mean-square energy
    (32 bits) and zero-crossing count (32 bits). Delta SIGNS are
    invariant under constant gain (energy scales by g², crossings not
    at all), so a volume-normalized copy fingerprints identically and
    additive noise flips only near-tie bits — near-dups land within a
    small Hamming distance. Pure numpy reductions; deterministic."""
    n = len(x)
    if n < 66:
        x = np.pad(x, (0, 66 - n))
        n = 66
    edges = (np.arange(34, dtype=np.int64) * n) // 33
    widths = np.maximum(1, np.diff(edges))
    csq = np.concatenate([[0.0], np.cumsum(x.astype(np.float64) ** 2)])
    energy = (csq[edges[1:]] - csq[edges[:-1]]) / widths
    zc = (np.signbit(x[1:]) != np.signbit(x[:-1])).astype(np.float64)
    czc = np.concatenate([[0.0], np.cumsum(zc)])
    zedges = np.minimum(edges, n - 1)
    zcr = (czc[zedges[1:]] - czc[zedges[:-1]]) / widths
    bits = np.concatenate(
        [np.diff(energy) > 0, np.diff(zcr) > 0]
    ).astype(np.uint64)
    fp = np.bitwise_or.reduce(bits << np.arange(64, dtype=np.uint64))
    return int(fp.astype(np.int64))


#: Batch fingerprint (Arrow pandas UDF body): bytes → Int64; null /
#: undecodable clips → null.
audio_fingerprint = _clip_map(lambda sr, x: fingerprint64(x), T.LongType())


def with_audio_fingerprint(df, out_col: str = "afp"):
    """Add the 64-bit perceptual fingerprint as a column (one vectorized
    Arrow batch UDF — the only Python in the pipeline; everything
    downstream of it is JVM built-ins)."""
    udf = F.pandas_udf(audio_fingerprint, T.LongType())
    return df.withColumn(out_col, udf(F.col("bytes")))


def audio_dup_pairs(df, id_col: str = "clip_id", *, max_hamming: int = 3):
    """Exact + near duplicate clip pairs by perceptual fingerprint.

    Fingerprints via one Arrow batch UDF, then the shared 16-bit-chunk
    pigeonhole equi-join (lakehouse/dedup.py hamming_pairs64) — the
    same no-cross-join shape that makes SimHash text dedup scale, so
    10^12 clips cost one decode pass + 4 equi-joins on (chunk, value),
    never O(n²).

    A self-join evaluates its input subtree once per side, so at large
    scale materialize the fingerprints FIRST (write
    ``with_audio_fingerprint(df).select(id, "afp")`` to a narrow table,
    16 bytes/clip) and pass that in — an ``afp`` column already present
    is used as-is, skipping the decode entirely."""
    from .dedup import hamming_pairs64

    if "afp" not in df.columns:
        df = with_audio_fingerprint(df)
    fps = df.filter(F.col("afp").isNotNull())
    return hamming_pairs64(
        fps.select(id_col, "afp"),
        id_col,
        "afp",
        max_hamming=max_hamming,
        out_a="clip_a",
        out_b="clip_b",
    )


def dedup_clips(table, *, id_col: str = "clip_id", max_hamming: int = 3):
    """Remove near-duplicate clips from a lakehouse table — the full
    training-data-curation flow in one call: fingerprint every clip
    (one decode pass), find near-dup pairs via the pigeonhole Hamming
    equi-join, and drop each pair's GREATER id with one merge-on-read
    equality-delete commit (O(victims) write, no data file rewritten;
    the rewrite folds in at the next maintenance pass).

    Survivors are exactly the ids that never appear as the greater
    member of a detected pair, so no detected pair survives intact and
    a cluster's minimum id is always kept. Returns the
    ``MorDeleteResult`` of the delete commit (``keys_deleted`` = number
    of clips removed; None snapshot when the table was already clean).
    """
    from .ops.mor import delete_mor_keys

    meta = table.meta
    pairs = audio_dup_pairs(
        table._scan(meta), id_col=id_col, max_hamming=max_hamming
    )
    victims = pairs.select(F.col("clip_b").alias(id_col)).distinct()
    return delete_mor_keys(table, meta, victims, key=id_col)


CURATE_FEATURES_TYPE = T.StructType(
    [
        T.StructField("clipping_ratio", T.DoubleType()),
        T.StructField("dc_offset", T.DoubleType()),
        T.StructField("afp", T.LongType()),
    ]
)


def _curate_step(sr: int, x: np.ndarray):
    """ONE decode per clip serving BOTH curation screens: the QC stats
    (clipping ratio, DC offset) and the 64-bit perceptual fingerprint.
    Undecodable clips yield all-null (the QC screen flags the null)."""
    if len(x) == 0:
        return 0.0, 0.0, fingerprint64(x)
    return (
        float(np.mean(np.abs(x) > 0.99)),
        float(np.mean(x)),
        fingerprint64(x),
    )


curate_features = _clip_udf(_curate_step, CURATE_FEATURES_TYPE)


def curate_clips(
    table,
    *,
    id_col: str = "clip_id",
    max_hamming: int = 3,
    clipping_max: float = 0.05,
    dc_max: float = 0.1,
    min_dur_ms: int = 0,
):
    """One-call audio corpus curation — the clips twin of
    ``dedup.curate_documents``: QC screen (clipping ratio, DC offset,
    minimum duration, decode failures) PLUS perceptual near-dup dedup,
    committed as ONE merge-on-read equality delete (O(victims) write,
    no data rewritten; folds in at the next maintenance pass).

    One decode pass feeds both screens AND both sides of the dedup
    self-join: ``curate_features`` extracts QC stats and the
    fingerprint together per clip-read, and the resulting NARROW frame
    (id, dur, 2 floats, 1 long — payloads dropped) is persisted, so the
    QC filter and the pigeonhole Hamming join read the cached ~40-byte
    rows, never the audio again. At extreme scale, write that narrow
    frame to its own table instead (see ``audio_dup_pairs`` docstring).
    Dedup victims are each detected pair's greater id, so a duplicate
    cluster keeps its minimum SURVIVING id. Returns the delete commit
    result (``keys_deleted`` = clips removed).
    """
    from pyspark import StorageLevel

    from .dedup import hamming_pairs64
    from .ops.mor import delete_mor_keys

    meta = table.meta
    narrow = (
        table._scan(meta)
        .select(
            F.col(id_col),
            F.col("dur_ms"),
            curate_features(F.col("bytes")).alias("__c"),
        )
        .select(
            id_col,
            "dur_ms",
            F.col("__c.clipping_ratio").alias("clipping_ratio"),
            F.col("__c.dc_offset").alias("dc_offset"),
            F.col("__c.afp").alias("afp"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        qc_bad = narrow.filter(
            F.col("clipping_ratio").isNull()
            | (F.col("clipping_ratio") > clipping_max)
            | (F.abs(F.col("dc_offset")) > dc_max)
            | (F.col("dur_ms") < min_dur_ms)
        ).select(id_col)
        pairs = hamming_pairs64(
            narrow.filter(F.col("afp").isNotNull()).select(id_col, "afp"),
            id_col,
            "afp",
            max_hamming=max_hamming,
            out_a="clip_a",
            out_b="clip_b",
        )
        dup_victims = pairs.select(F.col("clip_b").alias(id_col))
        victims = qc_bad.unionByName(dup_victims).distinct()
        return delete_mor_keys(table, meta, victims, key=id_col)
    finally:
        narrow.unpersist()


# --- spectral analysis (framed FFT; pure numpy — no audio libs in env) -------

SPECTRAL_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("bandwidth_hz", T.DoubleType()),
        T.StructField("rolloff95_hz", T.DoubleType()),
        # log-spaced band energies partitioning ALL rfft bins — so
        # sum(band_energy) == total_energy EXACTLY (float tolerance),
        # the Parseval-style internal invariant the driver query asserts
        T.StructField("band_energy", T.ArrayType(T.DoubleType())),
        T.StructField("total_energy", T.DoubleType()),
    ]
)


def _band_edges(n_bins: int, n_bands: int) -> np.ndarray:
    """Non-decreasing integer bin edges, log-spaced, with edges[0]=0 and
    edges[-1]=n_bins: the bands PARTITION the spectrum (possibly-empty
    low bands), which is what makes the energy-sum invariant exact."""
    e = np.unique(
        np.round(
            np.logspace(0, np.log10(max(n_bins, 2)), n_bands + 1)
        ).astype(np.int64)
    )
    e = np.clip(e, 0, n_bins)
    e[0] = 0
    edges = np.zeros(n_bands + 1, dtype=np.int64)
    # right-align the distinct edges; leading bands may be empty
    edges[-len(e):] = e
    edges[-1] = n_bins
    return np.maximum.accumulate(edges)


def spectral_features(
    x: np.ndarray, sr: int, *, n_fft: int = 512, hop: int = 256,
    n_bands: int = 16,
) -> dict:
    """Framed Hann-windowed rfft power spectrum, averaged over frames;
    centroid / bandwidth / 95%-rolloff plus partitioned band energies.
    """
    if len(x) < n_fft:
        x = np.pad(x.astype(np.float64), (0, n_fft - len(x)))
    else:
        x = x.astype(np.float64)
    n_frames = 1 + (len(x) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    win = np.hanning(n_fft)
    spec = np.fft.rfft(x[idx] * win, axis=1)
    p = np.mean(np.abs(spec) ** 2, axis=0)  # mean power per bin
    total = float(np.sum(p))
    freqs = np.fft.rfftfreq(n_fft, 1.0 / sr)
    if total > 0:
        w = p / total
        centroid = float(np.sum(freqs * w))
        bandwidth = float(np.sqrt(np.sum(w * (freqs - centroid) ** 2)))
        rolloff = float(freqs[np.searchsorted(np.cumsum(p), 0.95 * total)])
    else:
        centroid = bandwidth = rolloff = 0.0
    edges = _band_edges(len(p), n_bands)
    bands = np.add.reduceat(p, edges[:-1])
    # reduceat on an empty slice (equal consecutive edges) returns the
    # NEXT element, not 0 — zero those bands out to keep the partition
    bands = np.where(edges[1:] > edges[:-1], bands, 0.0)
    return {
        "n_frames": int(n_frames),
        "centroid_hz": centroid,
        "bandwidth_hz": bandwidth,
        "rolloff95_hz": rolloff,
        "band_energy": [float(v) for v in bands],
        "total_energy": total,
    }


audio_spectral = _clip_udf(
    lambda sr, x: tuple(spectral_features(x, sr).values()), SPECTRAL_TYPE
)


def with_spectral_features(df):
    """Attach the framed-FFT feature struct (one Arrow exchange)."""
    return df.withColumn("spectral", audio_spectral(F.col("bytes")))


def detect_upsampled_clips(df, rel_threshold: float = 0.62):
    """Flag clips whose EFFECTIVE bandwidth sits far below the nominal
    Nyquist — the upsampled-8-kHz-masquerading-as-16-kHz defect every
    real ASR corpus contains (telephony audio re-encoded at a higher
    rate carries no energy above its original 4 kHz band; training a
    16 kHz front end on it wastes the upper mel bands and skews CMVN).

    Composition, not new DSP: ONE Arrow spectral pass (the existing
    framed-FFT kernel) + a pure-Catalyst flag —
    ``rolloff95_hz / (sr_hz/2) < rel_threshold``. Map-only, no shuffle.

    Scope: meaningful for BROADBAND (speech-like) content. Narrowband
    content (a pure tone) is spectrally indistinguishable from an
    upsample and will flag; screen tonal synthetics upstream.
    """
    s = with_spectral_features(df)
    ratio = F.col("spectral.rolloff95_hz") / (F.col("sr_hz") / 2.0)
    return s.select(
        *df.columns,
        F.col("spectral.rolloff95_hz").alias("effective_bw_hz"),
        F.round(ratio, 4).alias("bw_ratio"),
        F.when(F.col("spectral.ok") & (ratio < rel_threshold), True)
        .when(F.col("spectral.ok"), False)
        .alias("suspect_upsampled"),
    )


def with_spectral_embedding(df, out_col: str = "embedding"):
    """L2-normalized log-band-energy vector as ``array<float>`` — a
    clip embedding compatible with the similarity module (cosine top-k
    / ANN over audio content, no external model needed)."""
    df = with_spectral_features(df)
    log_bands = F.transform(
        F.col("spectral.band_energy"), lambda v: F.log1p(v)
    )
    norm = F.sqrt(
        F.aggregate(
            log_bands, F.lit(0.0), lambda acc, v: acc + v * v
        )
    )
    emb = F.transform(
        log_bands,
        lambda v: (v / F.when(norm > 0, norm).otherwise(F.lit(1.0))).cast(
            "float"
        ),
    )
    return df.withColumn(out_col, emb).drop("spectral")


# --- framed spectrogram materialization (sequence-model features) ------------

SPECTROGRAM_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_mels", T.IntegerType()),
        # row-major [n_frames x n_mels] log-mel energies — flat so the
        # column stays a primitive float array (Arrow/parquet friendly,
        # slices cheaply by frame index)
        T.StructField("logmel", T.ArrayType(T.FloatType())),
    ]
)


def make_spectrogram_udf(
    n_fft: int = 512, hop: int = 256, n_mels: int = 24
):
    """Per-FRAME log-mel spectrogram (what a sequence model consumes —
    contrast with ``audio_spectral``'s frame-AVERAGED features). One
    vectorized rfft over all frames per clip; emitted flat row-major
    with the (n_frames, n_mels) shape alongside."""
    fb_cache: dict[int, np.ndarray] = {}

    def step(sr, x):
        if len(x) < n_fft:
            x = np.pad(x.astype(np.float64), (0, n_fft - len(x)))
        else:
            x = x.astype(np.float64)
        n_frames = 1 + (len(x) - n_fft) // hop
        idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
        win = np.hanning(n_fft)
        p = np.abs(np.fft.rfft(x[idx] * win, axis=1)) ** 2
        if sr not in fb_cache:
            fb_cache[sr] = _mel_filterbank(p.shape[1], sr, n_mels)
        mel = p @ fb_cache[sr].T  # (n_frames, n_mels)
        logmel = np.log(np.maximum(mel, 1e-30)).astype(np.float32)
        return int(n_frames), int(n_mels), logmel.reshape(-1)

    return _clip_udf(step, SPECTROGRAM_TYPE)


def with_spectrogram(df, n_fft: int = 512, hop: int = 256, n_mels: int = 24):
    """Attach the framed log-mel spectrogram struct (one Arrow pass).
    The flat float array plus (n_frames, n_mels) is the storage layout
    a feature table wants: primitive parquet column, frame-sliceable,
    and the MaterializedTransform registry serves it incrementally."""
    return df.withColumn(
        "spectrogram",
        make_spectrogram_udf(n_fft, hop, n_mels)(F.col("bytes")),
    )


# --- MFCC (mel-frequency cepstral coefficients; pure numpy) ------------------

MFCC_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("mfcc", T.ArrayType(T.DoubleType())),
    ]
)


def _mel_filterbank(n_bins: int, sr: int, n_mels: int) -> np.ndarray:
    """Triangular mel filterbank (HTK mel scale, 2595*log10(1+f/700))
    over rfft bins of an ``n_fft = 2*(n_bins-1)`` transform. Rows are
    unit-area triangles; degenerate (empty) filters stay all-zero."""
    n_fft = 2 * (n_bins - 1)
    f_max = sr / 2.0
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    imel = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)  # noqa: E731
    pts = imel(np.linspace(0.0, mel(f_max), n_mels + 2))
    bins = np.floor((n_fft + 1) * pts / sr).astype(np.int64)
    bins = np.clip(bins, 0, n_bins - 1)
    fb = np.zeros((n_mels, n_bins), dtype=np.float64)
    for m in range(n_mels):
        lo, mid, hi = bins[m], bins[m + 1], bins[m + 2]
        if mid > lo:
            fb[m, lo:mid] = (np.arange(lo, mid) - lo) / (mid - lo)
        if hi > mid:
            fb[m, mid:hi] = (hi - np.arange(mid, hi)) / (hi - mid)
    return fb


def _dct2_orthonormal(n_out: int, n_in: int) -> np.ndarray:
    """DCT-II matrix with orthonormal scaling (scipy.fft.dct norm=
    'ortho' equivalent; scipy is not in env). Row 0 is the constant
    basis vector — which is why a uniform gain change moves ONLY c0."""
    k = np.arange(n_out)[:, None]
    n = np.arange(n_in)[None, :]
    m = np.cos(np.pi * k * (2 * n + 1) / (2.0 * n_in))
    m *= np.sqrt(2.0 / n_in)
    m[0] *= np.sqrt(0.5)
    return m


def mfcc_features(
    x: np.ndarray,
    sr: int,
    *,
    n_fft: int = 512,
    hop: int = 256,
    n_mels: int = 24,
    n_mfcc: int = 13,
) -> list:
    """MFCCs of the frame-averaged power spectrum: mel filterbank →
    log → orthonormal DCT-II, first ``n_mfcc`` coefficients. The ASR
    classic; a uniform gain g scales every mel energy by g^2, shifting
    log-mel by a constant — so mfcc[1:] is EXACTLY gain-invariant
    (gated) while c0 carries level."""
    if len(x) < n_fft:
        x = np.pad(x.astype(np.float64), (0, n_fft - len(x)))
    else:
        x = x.astype(np.float64)
    n_frames = 1 + (len(x) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    win = np.hanning(n_fft)
    p = np.mean(np.abs(np.fft.rfft(x[idx] * win, axis=1)) ** 2, axis=0)
    melE = _mel_filterbank(len(p), sr, n_mels) @ p
    log_mel = np.log(np.maximum(melE, 1e-30))
    c = _dct2_orthonormal(n_mfcc, n_mels) @ log_mel
    return [float(v) for v in c]


audio_mfcc = _clip_udf(lambda sr, x: (mfcc_features(x, sr),), MFCC_TYPE)


def with_mfcc_embedding(df, out_col: str = "embedding"):
    """L2-normalized mfcc[1:] as ``array<float>`` — a LEVEL-INVARIANT
    clip embedding (c0 carries gain, so it is dropped) feeding the
    similarity module: volume-renormalized copies of a clip match
    exactly, unlike the raw band-energy embedding."""
    df = df.withColumn("__m", audio_mfcc(F.col("bytes")))
    tail = F.slice(F.col("__m.mfcc"), 2, 100000)
    norm = F.sqrt(
        F.aggregate(tail, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    emb = F.transform(
        tail,
        lambda v: (v / F.when(norm > 0, norm).otherwise(F.lit(1.0))).cast(
            "float"
        ),
    )
    return df.withColumn(out_col, emb).drop("__m")


# --- dominant-frequency estimation (FFT peak + parabolic interpolation) ------

DOMINANT_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("dominant_hz", T.DoubleType()),
        T.StructField("bin_hz", T.DoubleType()),  # raw FFT resolution
    ]
)


def dominant_frequency(x: np.ndarray, sr: int) -> Tuple[float, float]:
    """Dominant spectral component via whole-clip Hann rfft peak with
    parabolic interpolation on log power (sub-bin accuracy: ~0.1 Hz on
    the synth corpus vs a ~5 Hz raw bin). Returns (freq_hz, bin_hz)."""
    x = x.astype(np.float64)
    w = np.hanning(len(x))
    p = np.abs(np.fft.rfft(x * w)) ** 2
    if len(p) < 4:
        return 0.0, float(sr) / max(len(x), 1)
    i = int(np.argmax(p[1:-1])) + 1
    lp = np.log(p[i - 1 : i + 2] + 1e-30)
    denom = lp[0] - 2 * lp[1] + lp[2]
    d = 0.5 * (lp[0] - lp[2]) / denom if denom != 0 else 0.0
    return float((i + d) * sr / len(x)), float(sr) / len(x)


# an empty clip has no spectrum: ok=False, like an undecodable one
audio_dominant = _clip_udf(
    lambda sr, x: dominant_frequency(x, sr) if len(x) else None,
    DOMINANT_TYPE,
)


def with_dominant_freq(df):
    return df.withColumn("dominant", audio_dominant(F.col("bytes")))


def synth_dominant_error_udf(seed: int):
    """Ground-truth checker for the synthetic corpus: re-derives each
    clip's sinusoid components from the SAME rng stream the generator
    used (synth.synth_pcm) and returns the estimate's distance to the
    nearest component whose amplitude is ≥ 0.7× the strongest (near-tie
    tolerant — two comparable components may share the peak)."""

    @F.pandas_udf(T.DoubleType())
    def err_udf(raw: pd.Series, idx: pd.Series) -> pd.Series:
        from .synth import _rng

        out = []
        for b, i in zip(raw, idx):
            sr, x = decode_wav(b)
            rng = _rng(seed, int(i))
            comps = []
            for _ in range(int(rng.integers(2, 4))):
                freq = float(rng.uniform(80.0, min(4000.0, sr / 2 - 100)))
                amp = float(rng.uniform(0.1, 0.3))
                rng.uniform(0, 2 * np.pi)  # phase draw keeps stream aligned
                comps.append((freq, amp))
            est, _bw = dominant_frequency(x, sr)
            amax = max(a for _f, a in comps)
            out.append(
                min(abs(est - f) for f, a in comps if a >= 0.7 * amax)
            )
        return pd.Series(out)

    return err_udf


# ---------------------------------------------------------------------------
# codec transcoding (G.711 mu-law / A-law / PCM16)


_TRANSCODE_CODECS = ("pcm16", "pcm8", "f32", "mulaw", "alaw", "adpcm")


def make_transcode_udf(codec: str):
    """Vectorized transcode: decode whatever each clip's container
    holds (PCM16/8, f32, G.711 mu/A-law) → re-encode as ``codec``. The
    decode and both companding directions are whole-batch numpy
    (lakehouse/g711.py) — no per-sample Python."""
    if codec not in _TRANSCODE_CODECS:
        raise ValueError(f"unsupported target codec: {codec!r}")
    return _clip_udf(lambda sr, x: x, T.BinaryType(), codec)


@F.pandas_udf(T.DoubleType())
def pair_snr_db(raw_a: pd.Series, raw_b: pd.Series) -> pd.Series:
    """SNR of payload B against payload A (both WAV containers, any
    supported codec) — the distributed form of the per-row fidelity
    compare, e.g. original vs transcoded bytes."""
    out = []
    for a, b in zip(raw_a, raw_b):
        try:
            _, xa = decode_wav(a)
            _, xb = decode_wav(b)
        except (ValueError, struct.error):
            out.append(float("-inf"))
            continue
        out.append(snr_db(xa, xb))
    return pd.Series(out, dtype="float64")


def transcode_clips(df, codec: str):
    """Normalize the corpus to one codec (e.g. G.711 mu-law for 4x
    smaller telephony-band payloads, or pcm16 for lossless-from-here):
    one projection swaps bytes and the codec column; sr/dur unchanged.
    """
    udf = make_transcode_udf(codec)
    return _swap_payload(df, udf(F.col("bytes")), codec=codec)


# ---------------------------------------------------------------------------
# silence-based segmentation (energy VAD): one row per voiced segment

SEGMENTS_TYPE = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("seg_start_ms", T.IntegerType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)


def voiced_spans(
    x: np.ndarray,
    sr: int,
    *,
    threshold_db: float = -40.0,
    frame_ms: int = 20,
    min_silence_ms: int = 100,
) -> list:
    """Energy-VAD voiced spans of one decoded clip, as FRAME index
    pairs [lo, hi) (frame = ``frame_ms`` of audio; silence runs shorter
    than ``min_silence_ms`` are bridged). The per-clip kernel shared by
    ``split_on_silence_clips`` and ``transcripts.align_energy``."""
    hop = max(1, int(sr * frame_ms / 1000))
    n_frames = (len(x) + hop - 1) // hop
    if n_frames == 0:
        return []
    min_sil_frames = max(1, int(round(min_silence_ms / frame_ms)))
    padded = np.zeros(n_frames * hop, dtype=np.float64)
    padded[: len(x)] = x
    rms = np.sqrt((padded.reshape(n_frames, hop) ** 2).mean(axis=1))
    with np.errstate(divide="ignore"):
        loud = 20.0 * np.log10(rms) >= threshold_db
    # voiced spans separated by >= min_sil_frames silent frames
    edges = np.flatnonzero(np.diff(loud.astype(np.int8)))
    bounds = np.concatenate(([0], edges + 1, [n_frames]))
    spans, cur = [], None
    for i in range(len(bounds) - 1):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        if loud[lo]:
            if cur is None:
                cur = [lo, hi]
            else:
                cur[1] = hi
        else:
            gap = hi - lo
            if cur is not None and gap >= min_sil_frames:
                spans.append(cur)
                cur = None
            # short gap: bridged, next voiced span extends cur
    if cur is not None:
        spans.append(cur)
    return spans


def split_on_silence_clips(
    df,
    threshold_db: float = -40.0,
    frame_ms: int = 20,
    min_silence_ms: int = 100,
    min_segment_ms: int = 40,
    id_col: str = "clip_id",
):
    """Energy-VAD segmentation: silence runs of at least
    ``min_silence_ms`` split each clip into voiced segments, one OUTPUT
    ROW per segment (segments shorter than ``min_segment_ms`` are
    dropped). The one-to-many shape runs through ``mapInPandas`` —
    frame RMS is one numpy reshape per clip, the row fan-out stays
    map-side (no shuffle, no driver involvement), so a 10^12-clip
    corpus segments in a single pass. Other columns re-join on
    ``clip_id``.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .synth import wrap_wav

        for pdf in batches:
            out = {k.name: [] for k in SEGMENTS_TYPE.fields}
            for cid, b in zip(pdf[id_col], pdf["bytes"]):
                try:
                    sr, x = decode_wav(b)
                except (ValueError, struct.error):
                    continue
                hop = max(1, int(sr * frame_ms / 1000))
                spans = voiced_spans(
                    x, sr,
                    threshold_db=threshold_db,
                    frame_ms=frame_ms,
                    min_silence_ms=min_silence_ms,
                )
                seg_idx = 0
                for lo_f, hi_f in spans:
                    a, z = lo_f * hop, min(len(x), hi_f * hop)
                    if 1000 * (z - a) / sr < min_segment_ms:
                        continue
                    y = x[a:z]
                    out["clip_id"].append(cid)
                    out["seg_idx"].append(seg_idx)
                    out["seg_start_ms"].append(int(round(1000 * a / sr)))
                    out["sr_hz"].append(sr)
                    out["dur_ms"].append(_dur_ms(len(y), sr))
                    out["bytes"].append(wrap_wav(y, sr, "pcm16"))
                    seg_idx += 1
            yield pd.DataFrame(out)

    return df.select(id_col, "bytes").mapInPandas(gen, SEGMENTS_TYPE)


AUGMENTED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("speed", T.DoubleType()),
        T.StructField("gain_db", T.DoubleType()),
        T.StructField("noise_snr_db", T.DoubleType()),
    ]
)


def make_augment_udf(
    noise_snr_db: float | None = 20.0,
    gain_db_range: tuple[float, float] = (0.0, 0.0),
    speed_range: tuple[float, float] = (1.0, 1.0),
):
    """Vectorized training-data augmentation (the standard ASR recipe:
    speed perturbation + gain perturbation + additive noise at a target
    SNR — cf. Kaldi/SpecAugment-era pipelines). One decode → perturb →
    re-encode pass per Arrow batch; NO per-row Python at the boundary.

    Determinism at any parallelism: the per-clip RNG is seeded from the
    ``seed64`` column (computed JVM-side, e.g. ``xxhash64(clip_id,
    lit(run_seed))``), never from batch position — the same clip gets
    the same perturbation on any cluster size, partitioning, or retry
    (the same property the engine's hash sampling relies on).

    Steps per clip (each skipped when its range is degenerate):
    speed s ~ U[speed_range] via linear-interp time-stretch (dur scales
    by 1/s, sr unchanged); gain g ~ U[gain_db_range] dB; additive white
    Gaussian noise scaled so signal-power / noise-power equals
    ``noise_snr_db`` exactly (then hard-limited into [-1, 1)).
    """

    def step(sr, x, sd):
        rng = np.random.default_rng(np.uint64(np.int64(sd)))
        s = float(rng.uniform(*speed_range))
        y = x.astype(np.float64)
        if s != 1.0 and len(y) > 1:
            n_out = max(1, int(round(len(y) / s)))
            pos = np.arange(n_out, dtype=np.float64) * s
            y = np.interp(pos, np.arange(len(y), dtype=np.float64), y)
        g_db = float(rng.uniform(*gain_db_range))
        if g_db != 0.0:
            y = y * (10.0 ** (g_db / 20.0))
        snr = None
        if noise_snr_db is not None and len(y):
            snr = float(noise_snr_db)
            p_sig = float(np.mean(y**2))
            if p_sig > 0:
                sigma = np.sqrt(p_sig / (10.0 ** (snr / 10.0)))
                y = y + rng.normal(0.0, sigma, size=len(y))
        y = np.clip(y, -0.99997, 0.99997).astype(np.float32)
        return y, sr, s, g_db, snr

    return _clip_udf(step, AUGMENTED_TYPE)


def augment_clips(
    df,
    seed: int = 0,
    noise_snr_db: float | None = 20.0,
    gain_db_range: tuple[float, float] = (0.0, 0.0),
    speed_range: tuple[float, float] = (1.0, 1.0),
    id_col: str = "clip_id",
):
    """Augment every clip (payload swap in one projection; perturbation
    parameters kept as lineage columns). Seeded per (seed, clip_id), so
    repeated runs and retried tasks produce identical bytes."""
    seed64 = F.xxhash64(F.col(id_col), F.lit(int(seed)))
    udf = make_augment_udf(noise_snr_db, gain_db_range, speed_range)
    return _swap_payload(
        df, udf(F.col("bytes"), seed64), ["speed", "gain_db", "noise_snr_db"]
    )


# --- Reverb augmentation (synthetic RIR convolution) -------------------------

REVERB_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("rt60_ms", T.DoubleType()),
        T.StructField("drr_db", T.DoubleType()),
    ]
)


def _synth_rir(rng, sr: int, rt60_ms: float, taps_per_sec: float = 4000.0):
    """Seeded synthetic room impulse response: unit direct path plus
    sparse ±1 'velvet noise' taps under an exponential decay reaching
    -60 dB at T60 (Järveläinen & Karjalainen's velvet-noise reverb — the
    published stand-in when no measured RIR corpus is available; none
    ships in this container). Consumes the rng in a FIXED order (tap
    positions, then signs) so gates can re-derive it."""
    L = max(2, int(sr * rt60_ms / 1000.0))
    n_taps = max(1, int(taps_per_sec * rt60_ms / 1000.0))
    pos = rng.integers(1, L, size=n_taps)
    signs = rng.choice(np.array([-1.0, 1.0]), size=n_taps)
    h = np.zeros(L, dtype=np.float64)
    h[0] = 1.0
    amp = 0.2 * 10.0 ** (-3.0 * (pos / L))  # -60 dB at t = rt60; the 0.2
    # tap gain keeps typical DRR in the measured-room band (~ -5..+10 dB)
    np.add.at(h, pos, signs * amp)
    return h


def _fft_convolve_trunc(x: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Linear convolution via rFFT, truncated to ``len(x)`` so clip
    duration (and any alignment computed on it) is preserved."""
    n = len(x) + len(h) - 1
    N = 1 << max(1, (n - 1).bit_length())
    y = np.fft.irfft(np.fft.rfft(x, N) * np.fft.rfft(h, N), N)
    return y[: len(x)]


def make_reverb_udf(
    rt60_range: tuple[float, float] = (150.0, 600.0),
    taps_per_sec: float = 4000.0,
):
    """Vectorized reverberation augmentation — the reverb step of the
    standard ASR robustness recipe (Ko et al. 2017, "A study on data
    augmentation of reverberant speech for robust speech recognition"),
    with a per-clip SYNTHESIZED RIR (see :func:`_synth_rir`).

    One decode → FFT-convolve → re-encode pass per Arrow batch, no
    per-row Python at the boundary. Deterministic at any parallelism:
    the per-clip RNG seeds from the JVM-computed ``seed64`` column, the
    same contract as :func:`make_augment_udf`. T60 draws from
    ``rt60_range`` (ms); output length equals input length (the wet tail
    is truncated) so downstream alignments stay valid; the peak is
    re-limited into [-1, 1). ``drr_db`` (direct-to-reverberant ratio,
    pre-limit) rides along as lineage."""

    def step(sr, x, sd):
        rng = np.random.default_rng(np.uint64(np.int64(sd)))
        rt60 = float(rng.uniform(*rt60_range))
        h = _synth_rir(rng, sr, rt60, taps_per_sec)
        xd = x.astype(np.float64)
        y = _fft_convolve_trunc(xd, h)
        rev = y - xd  # h[0] == 1 keeps the direct path identity
        p_sig = float(np.mean(xd**2))
        p_rev = float(np.mean(rev**2))
        drr = (
            10.0 * np.log10(p_sig / p_rev) if p_sig > 0 and p_rev > 0 else None
        )
        peak = float(np.max(np.abs(y))) if len(y) else 0.0
        if peak > 0.99997:
            y = y * (0.99997 / peak)
        return y.astype(np.float32), sr, rt60, drr

    return _clip_udf(step, REVERB_TYPE)


def reverb_clips(
    df,
    seed: int = 0,
    rt60_range: tuple[float, float] = (150.0, 600.0),
    taps_per_sec: float = 4000.0,
    id_col: str = "clip_id",
):
    """Reverberate every clip (payload swap in one projection; the drawn
    T60 and resulting DRR kept as lineage columns). Seeded per
    (seed, clip_id) — identical bytes on any partitioning or retry."""
    seed64 = F.xxhash64(F.col(id_col), F.lit(int(seed)))
    udf = make_reverb_udf(rt60_range, taps_per_sec)
    return _swap_payload(
        df, udf(F.col("bytes"), seed64), ["rt60_ms", "drr_db"]
    )


# --- SpecAugment (seeded time/frequency masking on log-mel frames) -----------

SPECAUG_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_mels", T.IntegerType()),
        T.StructField("logmel", T.ArrayType(T.FloatType())),
        # lineage: exactly which spans were blanked (start, length pairs)
        T.StructField("time_masks", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("freq_masks", T.ArrayType(T.ArrayType(T.IntegerType()))),
    ]
)


def make_specaugment_udf(
    n_time_masks: int = 2,
    max_t: int = 16,
    n_freq_masks: int = 2,
    max_f: int = 4,
):
    """SpecAugment masking (Park et al. 2019, arXiv:1904.08779 — the
    standard ASR feature-space augmentation) over the engine's framed
    log-mel layout: ``n_freq_masks`` bands of width ~U[0,max_f] and
    ``n_time_masks`` frame spans of length ~U[0,max_t] are set to the
    clip's mean log-mel value (the paper's mean-normalized-to-zero
    convention). Pure Arrow-batched numpy — the mask is two slice
    assignments per span on the (n_frames, n_mels) view, no per-row
    Python at the boundary.

    Determinism at any parallelism: per-clip RNG seeds from the
    ``seed64`` column exactly like :func:`make_augment_udf` — same clip,
    same masks, on any partitioning or task retry.
    """

    @F.pandas_udf(SPECAUG_TYPE)
    def specaugment_udf(
        logmel: pd.Series, n_frames: pd.Series, n_mels: pd.Series,
        seed64: pd.Series,
    ) -> pd.DataFrame:
        out = {f.name: [] for f in SPECAUG_TYPE.fields}
        for flat, nf, nm, sd in zip(logmel, n_frames, n_mels, seed64):
            if flat is None or nf is None or nm is None:
                for k in out:
                    out[k].append(None if k != "ok" else False)
                continue
            nf, nm = int(nf), int(nm)
            m = np.asarray(flat, dtype=np.float32).reshape(nf, nm).copy()
            rng = np.random.default_rng(np.uint64(np.int64(sd)))
            fill = np.float32(m.mean()) if m.size else np.float32(0.0)
            tmasks, fmasks = [], []
            for _ in range(int(n_freq_masks)):
                f = int(rng.integers(0, min(max_f, nm) + 1))
                f0 = int(rng.integers(0, nm - f + 1))
                if f:
                    m[:, f0 : f0 + f] = fill
                    fmasks.append([f0, f])
            for _ in range(int(n_time_masks)):
                t = int(rng.integers(0, min(max_t, nf) + 1))
                t0 = int(rng.integers(0, nf - t + 1))
                if t:
                    m[t0 : t0 + t, :] = fill
                    tmasks.append([t0, t])
            out["ok"].append(True)
            out["n_frames"].append(nf)
            out["n_mels"].append(nm)
            out["logmel"].append(m.reshape(-1))
            out["time_masks"].append(tmasks)
            out["freq_masks"].append(fmasks)
        return pd.DataFrame(out)

    return specaugment_udf


def specaugment(
    df,
    seed: int = 0,
    *,
    n_time_masks: int = 2,
    max_t: int = 16,
    n_freq_masks: int = 2,
    max_f: int = 4,
    spec_col: str = "spectrogram",
    id_col: str = "clip_id",
    out_col: str = "spectrogram_aug",
):
    """Attach a SpecAugment-masked twin of an existing spectrogram
    struct column (compose after :func:`with_spectrogram`, or register
    both as incremental feature extractors). Seeded per
    ``(seed, id_col)`` so repeated runs, retries, and any cluster size
    produce bit-identical masks; the original column is kept so the
    loader can sample clean or augmented views per epoch."""
    seed64 = F.xxhash64(F.col(id_col), F.lit(int(seed)))
    return df.withColumn(
        out_col,
        make_specaugment_udf(n_time_masks, max_t, n_freq_masks, max_f)(
            F.col(f"{spec_col}.logmel"),
            F.col(f"{spec_col}.n_frames"),
            F.col(f"{spec_col}.n_mels"),
            seed64,
        ),
    )


# --- CMVN + delta features (tail of the standard ASR feature recipe) --------

# Cepstral mean (and variance) normalization plus delta / delta-delta
# regression features are the last two steps of the classic ASR front
# end (Kaldi's apply-cmvn + add-deltas; HTK book §5.9-5.10).  Both
# operate on the engine's framed layout (flat row-major float array +
# (n_frames, n_mels) shape) so they compose after
# :func:`with_spectrogram` / :func:`specaugment` and register as
# incremental feature extractors.

CMVN_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_mels", T.IntegerType()),
        T.StructField("logmel", T.ArrayType(T.FloatType())),
    ]
)

#: Variance floor: dims whose per-clip std falls below this are scaled
#: by 1/CMVN_STD_FLOOR instead of exploding to inf (Kaldi's variance
#: floor plays the same role).
CMVN_STD_FLOOR = 1e-5


def make_cmvn_udf(var_norm: bool = True):
    """Per-clip (per-utterance) CMVN over the framed feature layout:
    subtract the per-dim mean over time; with ``var_norm`` also divide
    by the per-dim std (floored at :data:`CMVN_STD_FLOOR`). Pure
    Arrow-batched numpy — two reductions and one broadcast op on the
    (n_frames, n_mels) view per clip, no per-row Python boundary."""

    @F.pandas_udf(CMVN_TYPE)
    def cmvn_udf(
        logmel: pd.Series, n_frames: pd.Series, n_mels: pd.Series
    ) -> pd.DataFrame:
        out = {f.name: [] for f in CMVN_TYPE.fields}
        for flat, nf, nm in zip(logmel, n_frames, n_mels):
            if flat is None or nf is None or nm is None:
                for k in out:
                    out[k].append(None if k != "ok" else False)
                continue
            nf, nm = int(nf), int(nm)
            m = np.asarray(flat, dtype=np.float64).reshape(nf, nm)
            m = m - m.mean(axis=0)
            if var_norm:
                m = m / np.maximum(m.std(axis=0), CMVN_STD_FLOOR)
            out["ok"].append(True)
            out["n_frames"].append(nf)
            out["n_mels"].append(nm)
            out["logmel"].append(m.astype(np.float32).reshape(-1))
        return pd.DataFrame(out)

    return cmvn_udf


def with_cmvn(
    df,
    spec_col: str = "spectrogram",
    out_col: str = "spectrogram_cmvn",
    var_norm: bool = True,
):
    """Attach a per-clip-CMVN-normalized twin of a framed feature
    struct column (compose after :func:`with_spectrogram`)."""
    return df.withColumn(
        out_col,
        make_cmvn_udf(var_norm)(
            F.col(f"{spec_col}.logmel"),
            F.col(f"{spec_col}.n_frames"),
            F.col(f"{spec_col}.n_mels"),
        ),
    )


_CMVN_PARTIAL_TYPE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("ss", T.ArrayType(T.DoubleType())),
    ]
)


def _cmvn_partial_udf():
    """Arrow-batched per-clip CMVN partial: ``(n_frames, sum[dim],
    sumsq[dim])`` computed entirely executor-side — frames never leave
    the task that decoded them. Shared by the corpus and per-group
    stats paths."""

    @F.pandas_udf(_CMVN_PARTIAL_TYPE)
    def partial_udf(logmel: pd.Series, n_frames: pd.Series,
                    n_mels: pd.Series) -> pd.DataFrame:
        out = {"n": [], "s": [], "ss": []}
        for flat, nf, nm in zip(logmel, n_frames, n_mels):
            if flat is None or nf is None or nm is None:
                out["n"].append(None)
                out["s"].append(None)
                out["ss"].append(None)
                continue
            m = np.asarray(flat, dtype=np.float64).reshape(int(nf), int(nm))
            out["n"].append(int(nf))
            out["s"].append(m.sum(axis=0))
            out["ss"].append((m * m).sum(axis=0))
        return pd.DataFrame(out)

    return partial_udf


def cmvn_corpus_stats(df, spec_col: str = "spectrogram"):
    """Corpus-level (global) CMVN statistics: per-dim mean and std over
    EVERY frame of every clip.

    Scale shape: one Arrow pass computes a per-clip partial
    ``(n_frames, sum[dim], sumsq[dim])`` — frames never leave the
    executor — then the partials explode to O(clips × n_mels) tiny rows
    and a single groupBy(dim) reduces them (map-side partial agg, one
    narrow shuffle of doubles). The result is n_mels rows collected to
    the driver: metadata-bounded by construction, independent of corpus
    size. Returns ``(total_frames, mean ndarray, std ndarray)``.
    """
    partial_udf = _cmvn_partial_udf()

    p = (
        df.select(
            partial_udf(
                F.col(f"{spec_col}.logmel"),
                F.col(f"{spec_col}.n_frames"),
                F.col(f"{spec_col}.n_mels"),
            ).alias("p")
        )
        .where(F.col("p.n").isNotNull())
    )
    per_dim = (
        p.select("p.n", F.posexplode("p.s").alias("dim", "s"), "p.ss")
        .select("n", "dim", "s", F.expr("ss[dim]").alias("ss"))
        .groupBy("dim")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("ss").alias("ss"),
        )
        .orderBy("dim")
        .collect()
    )
    if not per_dim:
        return 0, np.zeros(0), np.ones(0)
    n = int(per_dim[0]["n"])
    mean = np.array([r["s"] / r["n"] for r in per_dim])
    var = np.array(
        [max(r["ss"] / r["n"] - (r["s"] / r["n"]) ** 2, 0.0) for r in per_dim]
    )
    return n, mean, np.maximum(np.sqrt(var), CMVN_STD_FLOOR)


def apply_cmvn(
    df,
    mean,
    std,
    spec_col: str = "spectrogram",
    out_col: str = "spectrogram_cmvn",
):
    """Apply precomputed (corpus-level) CMVN stats as a PURE CATALYST
    projection — ``transform`` with an index lambda over the flat
    row-major array; the n_mels-length mean/std vectors ride as array
    literals, so the hot path is whole-stage codegen with zero Python.
    """
    nm = len(mean)
    mean_arr = F.array(*[F.lit(float(v)) for v in mean])
    std_arr = F.array(*[F.lit(float(v)) for v in std])
    norm = F.transform(
        F.col(f"{spec_col}.logmel"),
        lambda x, i: (
            (x - F.element_at(mean_arr, (i % F.lit(nm)) + 1))
            / F.element_at(std_arr, (i % F.lit(nm)) + 1)
        ).cast("float"),
    )
    return df.withColumn(
        out_col,
        F.struct(
            F.col(f"{spec_col}.ok").alias("ok"),
            F.col(f"{spec_col}.n_frames").alias("n_frames"),
            F.col(f"{spec_col}.n_mels").alias("n_mels"),
            norm.alias("logmel"),
        ),
    )


def cmvn_group_stats(df, group_col: str, spec_col: str = "spectrogram"):
    """Per-group CMVN statistics — the Kaldi per-speaker ``apply-cmvn``
    middle ground between per-clip and corpus-global normalization.

    Scale shape: the same Arrow per-clip partial as
    :func:`cmvn_corpus_stats` (frames never leave the executor), then a
    single ``groupBy(group, dim)`` over O(clips × n_mels) tiny double
    rows — one narrow shuffle keyed by the group, so a group's stats
    co-locate. The result STAYS distributed (one row per group): group
    counts scale with the corpus (millions of speakers at 10^12 clips),
    so nothing is ever collected to the driver.

    Returns a DataFrame ``(group_col, n_frames_total, mean
    array<double>, std array<double>)`` (std floored at
    ``CMVN_STD_FLOOR``) ready for :func:`apply_cmvn_grouped`.
    """
    partial_udf = _cmvn_partial_udf()
    p = (
        df.select(
            F.col(group_col).alias("__grp"),
            partial_udf(
                F.col(f"{spec_col}.logmel"),
                F.col(f"{spec_col}.n_frames"),
                F.col(f"{spec_col}.n_mels"),
            ).alias("p"),
        )
        .where(F.col("p.n").isNotNull())
    )
    per_dim = (
        p.select("__grp", "p.n", F.posexplode("p.s").alias("dim", "s"), "p.ss")
        .select("__grp", "n", "dim", "s", F.expr("ss[dim]").alias("ss"))
        .groupBy("__grp", "dim")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("ss").alias("ss"),
        )
    )
    mean = F.col("s") / F.col("n")
    var = F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))
    std = F.greatest(F.sqrt(var), F.lit(CMVN_STD_FLOOR))
    return (
        per_dim.select(
            "__grp",
            "n",
            F.struct(F.col("dim"), mean.alias("mean"), std.alias("std")).alias(
                "d"
            ),
        )
        .groupBy("__grp")
        .agg(
            F.max("n").alias("n_frames_total"),
            F.array_sort(F.collect_list("d")).alias("__ds"),
        )
        .select(
            F.col("__grp").alias(group_col),
            "n_frames_total",
            F.transform("__ds", lambda d: d["mean"]).alias("mean"),
            F.transform("__ds", lambda d: d["std"]).alias("std"),
        )
    )


def apply_cmvn_grouped(
    df,
    stats,
    group_col: str,
    spec_col: str = "spectrogram",
    out_col: str = "spectrogram_cmvn",
):
    """Apply :func:`cmvn_group_stats` output per group: ONE equi-join on
    the group key (no forced broadcast — group counts scale with the
    corpus, AQE picks a broadcast when the stats side is actually
    small), then the identical pure-Catalyst ``transform`` as
    :func:`apply_cmvn` with the joined mean/std arrays — zero Python in
    the normalization hot path. Rows whose group has no stats keep a
    null ``logmel`` with ``ok=false`` so downstream QC can quarantine
    them instead of silently passing unnormalized features."""
    st = stats.select(
        F.col(group_col).alias("__cmvn_grp"),
        F.col("mean").alias("__cmvn_mean"),
        F.col("std").alias("__cmvn_std"),
    )
    j = df.join(st, df[group_col] == st["__cmvn_grp"], "left")
    nm = F.col(f"{spec_col}.n_mels")
    norm = F.transform(
        F.col(f"{spec_col}.logmel"),
        lambda x, i: (
            (x - F.element_at(F.col("__cmvn_mean"), (i % nm) + 1))
            / F.element_at(F.col("__cmvn_std"), (i % nm) + 1)
        ).cast("float"),
    )
    return j.withColumn(
        out_col,
        F.struct(
            (
                F.col(f"{spec_col}.ok") & F.col("__cmvn_mean").isNotNull()
            ).alias("ok"),
            F.col(f"{spec_col}.n_frames").alias("n_frames"),
            F.col(f"{spec_col}.n_mels").alias("n_mels"),
            norm.alias("logmel"),
        ),
    ).drop("__cmvn_grp", "__cmvn_mean", "__cmvn_std")


DELTA_TYPE = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_mels", T.IntegerType()),
        T.StructField("delta", T.ArrayType(T.FloatType())),
        T.StructField("delta2", T.ArrayType(T.FloatType())),
    ]
)


def _delta_frames(m: np.ndarray, width: int) -> np.ndarray:
    """Kaldi/HTK regression deltas over the time axis with edge
    replication: d_t = Σ_{n=1..N} n·(c_{t+n} − c_{t−n}) / (2·Σ n²)."""
    nf = m.shape[0]
    pad = np.pad(m, ((width, width), (0, 0)), mode="edge")
    denom = 2.0 * sum(n * n for n in range(1, width + 1))
    d = np.zeros_like(m, dtype=np.float64)
    for n in range(1, width + 1):
        d += n * (pad[width + n : width + n + nf]
                  - pad[width - n : width - n + nf])
    return d / denom


def make_delta_udf(width: int = 2):
    """Delta + delta-delta regression features over the framed layout
    (delta-delta = the delta operator applied twice). Arrow-batched
    numpy; the regression is two shifted-slice subtractions per order,
    vectorized over all frames of a clip at once."""

    @F.pandas_udf(DELTA_TYPE)
    def delta_udf(
        logmel: pd.Series, n_frames: pd.Series, n_mels: pd.Series
    ) -> pd.DataFrame:
        out = {f.name: [] for f in DELTA_TYPE.fields}
        for flat, nf, nm in zip(logmel, n_frames, n_mels):
            if flat is None or nf is None or nm is None:
                for k in out:
                    out[k].append(None if k != "ok" else False)
                continue
            nf, nm = int(nf), int(nm)
            m = np.asarray(flat, dtype=np.float64).reshape(nf, nm)
            d1 = _delta_frames(m, width)
            d2 = _delta_frames(d1, width)
            out["ok"].append(True)
            out["n_frames"].append(nf)
            out["n_mels"].append(nm)
            out["delta"].append(d1.astype(np.float32).reshape(-1))
            out["delta2"].append(d2.astype(np.float32).reshape(-1))
        return pd.DataFrame(out)

    return delta_udf


def with_deltas(
    df,
    spec_col: str = "spectrogram",
    out_col: str = "spectrogram_delta",
    width: int = 2,
):
    """Attach delta/delta-delta regression features for a framed
    feature struct column (compose after :func:`with_spectrogram` or
    :func:`with_cmvn`)."""
    return df.withColumn(
        out_col,
        make_delta_udf(width)(
            F.col(f"{spec_col}.logmel"),
            F.col(f"{spec_col}.n_frames"),
            F.col(f"{spec_col}.n_mels"),
        ),
    )


# --- Speed perturbation (deterministic corpus expansion) ---------------------

SPEED_PERTURB_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
    ]
)


def _speed_perturb_step(sr, x, f):
    f = float(f)
    if f == 1.0 or len(x) <= 1:
        return x, sr
    n_out = max(1, int(round(len(x) / f)))
    pos = np.arange(n_out, dtype=np.float64) * f
    y = np.interp(
        pos, np.arange(len(x), dtype=np.float64), x.astype(np.float64)
    )
    return y.astype(np.float32), sr


_speed_perturb_udf = _clip_udf(_speed_perturb_step, SPEED_PERTURB_TYPE)


def speed_perturb_clips(df, factors=(0.9, 1.0, 1.1), id_col: str = "clip_id"):
    """Kaldi's 3-way speed perturbation as a deterministic corpus
    EXPANSION (Ko et al. 2015, "Audio augmentation for speech
    recognition"): each clip yields one variant per factor — playback
    sped by ``f`` via linear-interp time stretch (duration scales by
    1/f, every spectral component by f, sample rate unchanged),
    transcript carried as-is. Factor 1.0 keeps the original id and
    payload (pcm16 roundtrips byte-identically); other factors prefix
    the id ``sp<f>-`` (the Kaldi utt-id convention).

    Unlike :func:`augment_clips` (seeded RANDOM perturbation for
    robustness), this is the fixed-grid recipe whose variants train as
    independent utterances — the corpus triples by construction.

    Scale shape: one explode (no shuffle, output rows stay with their
    input partition) + one Arrow decode→interp→encode pass; lineage
    column ``speed_factor`` records the grid point.
    """
    fcol = F.explode(
        F.array(*[F.lit(float(f)) for f in factors])
    ).alias("speed_factor")
    new_id = F.when(
        F.col("speed_factor") == 1.0, F.col(id_col)
    ).otherwise(
        F.concat(
            F.lit("sp"),
            F.format_number(F.col("speed_factor"), 2),
            F.lit("-"),
            F.col(id_col),
        )
    )
    base = df.select(*df.columns, fcol).withColumn(id_col, new_id)
    return _swap_payload(
        base,
        _speed_perturb_udf(F.col("bytes"), F.col("speed_factor")),
        cols=[id_col, *(c for c in df.columns if c != id_col), "speed_factor"],
    )


# --- Pitch shift (phase vocoder, duration-preserving) -------------------------

PITCHED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
    ]
)


def _stft(x: np.ndarray, n_fft: int, hop: int, win: np.ndarray) -> np.ndarray:
    """(n_frames, n_bins) complex STFT over a tail-padded signal."""
    n_frames = 1 + (len(x) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    return np.fft.rfft(x[idx] * win[None, :], axis=1)


def _istft(S: np.ndarray, n_fft: int, hop: int, win: np.ndarray) -> np.ndarray:
    """Windowed overlap-add inverse with window-square normalization."""
    frames = np.fft.irfft(S, n=n_fft, axis=1).real * win[None, :]
    n_frames = S.shape[0]
    n_out = n_fft + hop * (n_frames - 1)
    idx = (np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]).ravel()
    out = np.zeros(n_out, dtype=np.float64)
    wsum = np.zeros(n_out, dtype=np.float64)
    np.add.at(out, idx, frames.ravel())
    np.add.at(wsum, idx, np.tile(win.astype(np.float64) ** 2, n_frames))
    return out / np.maximum(wsum, 1e-8)


def _pv_stretch(
    x: np.ndarray, rate: float, n_fft: int = 1024, hop: int = 256
) -> np.ndarray:
    """Phase-vocoder time stretch: duration scales by 1/rate, pitch
    preserved (Flanagan & Golden 1966; the librosa/Laroche-Dolson
    recipe). Fully vectorized — per-bin phase accumulation is a cumsum
    over the wrapped instantaneous-frequency deviations, no per-frame
    Python loop."""
    pad = np.pad(x.astype(np.float64), (0, n_fft + hop))
    win = np.hanning(n_fft)
    S = _stft(pad, n_fft, hop, win)
    n_frames, n_bins = S.shape
    t = np.arange(0.0, n_frames - 1, rate)
    k = t.astype(np.int64)
    k1 = np.minimum(k + 1, n_frames - 1)
    frac = (t - k)[:, None]
    mag = np.abs(S)
    ang = np.angle(S)
    phi_adv = 2.0 * np.pi * hop * np.arange(n_bins) / n_fft
    dphi = ang[k1] - ang[k] - phi_adv[None, :]
    dphi -= 2.0 * np.pi * np.round(dphi / (2.0 * np.pi))
    step = phi_adv[None, :] + dphi
    phase = ang[0][None, :] + np.concatenate(
        [np.zeros((1, n_bins)), np.cumsum(step[:-1], axis=0)], axis=0
    )
    out = ((1.0 - frac) * mag[k] + frac * mag[k1]) * np.exp(1j * phase)
    y = _istft(out, n_fft, hop, win)
    n_want = max(1, int(round(len(x) / rate)))
    return y[:n_want] if len(y) >= n_want else np.pad(y, (0, n_want - len(y)))


def pitch_shift_pcm(x: np.ndarray, factor: float) -> np.ndarray:
    """Shift every spectral component by ``factor`` keeping duration:
    phase-vocoder stretch to len*factor (pitch unchanged), then linear
    resample back to exactly len(x) samples (pitch × factor)."""
    n = len(x)
    if factor == 1.0 or n < 2048:
        return x
    z = _pv_stretch(x, 1.0 / factor)
    pos = np.minimum(np.arange(n, dtype=np.float64) * factor, len(z) - 1.0)
    y = np.interp(pos, np.arange(len(z), dtype=np.float64), z)
    return np.clip(y, -0.99997, 0.99997).astype(np.float32)


# an unchanged clip (factor 1.0, or too short) keeps its stored bytes
_pitch_shift_udf = _clip_udf(
    lambda sr, x, f: (
        pitch_shift_pcm(x, float(f))
        if float(f) != 1.0 and len(x) >= 2048 else None,
        sr,
    ),
    PITCHED_TYPE,
)


def pitch_shift_clips(df, factor: float, id_col: str = "clip_id"):
    """Pitch-shift augmentation (the third leg of the Kaldi robustness
    triad next to :func:`speed_perturb_clips` — which shifts pitch AND
    tempo together — and :func:`reverb_clips`): every spectral
    component scales by ``factor`` while DURATION IS PRESERVED
    (reference enrichment analogue: ``etl/handlers/click_handler.py``
    derives new columns per record; here the payload itself is the
    derived value). Deterministic — no RNG, so output is partitioning-
    and retry-invariant by construction.

    Scale shape: map-only — ONE Arrow decode→vocoder→encode pass, no
    shuffle, no join; the vocoder itself is vectorized numpy (phase
    accumulation is a cumsum, not a frame loop). Clips shorter than
    2048 samples (< 128 ms @ 16 kHz — too short for a stable STFT)
    pass through byte-identical, as does ``factor=1.0``.

    Output keeps the clip schema (``dur_ms`` unchanged by design) and
    adds lineage column ``pitch_factor``.
    """
    f = F.lit(float(factor))
    return _swap_payload(
        df,
        _pitch_shift_udf(F.col("bytes"), f),
        [("pitch_factor", f)],
        first=True,
    )


def time_stretch_pcm(x: np.ndarray, rate: float) -> np.ndarray:
    """Tempo change without pitch change: phase-vocoder stretch so the
    output has exactly ``round(len(x) / rate)`` samples (rate > 1 =
    faster/shorter). Clips too short for a stable STFT pass through."""
    if rate == 1.0 or len(x) < 2048:
        return x
    y = _pv_stretch(x, rate)
    return np.clip(y, -0.99997, 0.99997).astype(np.float32)


# an unchanged clip (rate 1.0, or too short) keeps its stored bytes
_time_stretch_udf = _clip_udf(
    lambda sr, x, rt: (
        time_stretch_pcm(x, float(rt))
        if float(rt) != 1.0 and len(x) >= 2048 else None,
        sr,
    ),
    PITCHED_TYPE,
)


def time_stretch_clips(df, rate: float, id_col: str = "clip_id"):
    """Tempo-perturb augmentation (the fourth leg next to
    :func:`speed_perturb_clips` — pitch AND tempo together —
    :func:`pitch_shift_clips` — pitch only — and :func:`reverb_clips`):
    playback speed scales by ``rate`` while PITCH IS PRESERVED, the
    exact complement of pitch shift (reference enrichment analogue:
    ``etl/handlers/click_handler.py`` derives new columns per record;
    here the payload itself is the derived value). Deterministic — no
    RNG, so output is partitioning- and retry-invariant by construction.

    Scale shape: map-only — ONE Arrow decode→vocoder→encode pass, no
    shuffle, no join; the vocoder is vectorized numpy (phase
    accumulation is a cumsum, not a frame loop). Clips shorter than
    2048 samples (< 128 ms @ 16 kHz — too short for a stable STFT)
    pass through byte-identical, as does ``rate=1.0``.

    Output keeps the clip schema with ``dur_ms`` RECOMPUTED from the
    new length (``round(len/rate)`` samples — the length law gated in
    tests) and adds lineage column ``stretch_rate``.
    """
    r = F.lit(float(rate))
    return _swap_payload(
        df,
        _time_stretch_udf(F.col("bytes"), r),
        [("stretch_rate", r)],
        first=True,
    )


# --- Real-noise mixing (MUSAN-style augmentation) -----------------------------

MIXED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("mixed", T.BooleanType()),
    ]
)


def make_mix_udf(snr_db_target: float):
    """Vectorized speech+noise mixing: decode both payloads, resample
    the noise to the speech rate if needed, tile/crop it to length from
    a seeded offset, scale it so signal-power / noise-power equals the
    target SNR exactly, add, hard-limit, re-encode pcm16. A noise
    payload that is missing or does not decode leaves the clip unmixed
    (``mixed=False``)."""

    def step(sr, x, nb, sd):
        y = x.astype(np.float64)
        did_mix = False
        if nb is not None:
            try:
                nsr, nx = decode_wav(nb)
            except (ValueError, struct.error):
                nx = None
            if nx is not None and len(nx) and len(y):
                nz = _resample_linear(nx, nsr, sr).astype(np.float64)
                rng = np.random.default_rng(np.uint64(np.int64(sd)))
                off = int(rng.integers(0, max(len(nz), 1)))
                nz = np.roll(nz, -off)
                reps = int(np.ceil(len(y) / len(nz)))
                nz = np.tile(nz, reps)[: len(y)]
                p_sig = float(np.mean(y**2))
                p_nz = float(np.mean(nz**2))
                if p_sig > 0 and p_nz > 0:
                    nz = nz * np.sqrt(
                        p_sig / (10.0 ** (snr_db_target / 10.0)) / p_nz
                    )
                    y = y + nz
                    did_mix = True
        return np.clip(y, -0.99997, 0.99997).astype(np.float32), sr, did_mix

    return _clip_udf(step, MIXED_TYPE)


def mix_noise_clips(
    df,
    noise_df,
    snr_db: float = 10.0,
    seed: int = 0,
    buckets: int = 64,
    id_col: str = "clip_id",
    noise_id_col: str = "clip_id",
    noise_bytes_col: str = "bytes",
):
    """MUSAN-style augmentation (Snyder et al. 2015; the noise half of
    the Kaldi robustness recipe): mix a REAL noise clip into every
    speech clip at an exact target SNR — `augment_clips` covers the
    white-Gaussian case; real deployments mix recorded noise corpora.

    Distributed assignment without a cross join or an unbounded
    broadcast: the noise corpus collapses to ONE representative per
    hash bucket (seeded window rank over pmod(xxhash64(noise_id),
    buckets) — a frame bounded by the ``buckets`` CONSTANT, never by
    corpus size), and each speech clip equi-joins its own seeded bucket
    key against it. Per-clip tile offsets are seeded from
    xxhash64(clip_id, seed) — deterministic under any partitioning or
    retry. Speech clips whose bucket has no noise representative (noise
    corpus smaller than ``buckets``) pass through unmixed with
    ``mixed=false`` — quarantine-style honesty, never a dropped row.

    Lineage: ``noise_id`` (null when unmixed), ``mixed``,
    ``noise_snr_db`` (the exact target — the gate re-measures it
    against the original payload).
    """
    from pyspark.sql.window import Window

    reps = (
        noise_df.select(
            F.col(noise_id_col).alias("noise_id"),
            F.col(noise_bytes_col).alias("noise_bytes"),
            F.pmod(
                F.xxhash64(F.col(noise_id_col), F.lit(int(seed))),
                F.lit(int(buckets)),
            ).alias("__nb"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__nb").orderBy(
                    F.xxhash64(F.col("noise_id"), F.lit(int(seed) + 1)),
                    F.col("noise_id"),
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    speech = df.withColumn(
        "__nb",
        F.pmod(
            F.xxhash64(F.col(id_col), F.lit(int(seed) + 2)),
            F.lit(int(buckets)),
        ),
    )
    joined = speech.join(reps, "__nb", "left")
    m = make_mix_udf(float(snr_db))(
        F.col("bytes"),
        F.col("noise_bytes"),
        F.xxhash64(F.col(id_col), F.lit(int(seed))),
    )
    mixed = F.col("__x.mixed")
    return _swap_payload(
        joined,
        m,
        [
            ("noise_id", F.when(mixed, F.col("noise_id"))),
            "mixed",
            ("noise_snr_db", F.when(mixed, F.lit(float(snr_db)))),
        ],
        first=True,
        cols=df.columns,
    )


# --- Spectral-gating denoise (noise suppression for field recordings) --------

DENOISED_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("noise_floor_db", T.DoubleType()),
    ]
)


def denoise_pcm(
    x: np.ndarray,
    *,
    n_fft: int = 512,
    over: float = 2.0,
    gain_floor: float = 0.05,
) -> Tuple[np.ndarray, float]:
    """Spectral-gating noise suppression (Boll 1979 spectral
    subtraction, power-domain, with a robust broadband floor): STFT →
    per-frame noise-floor estimate → per-bin gain → overlap-add.

    The floor is the per-frame MEDIAN power across frequency bins
    (scaled by 1/ln 2 — the median of an exponential periodogram bin
    equals ln 2 × its mean), NOT the classic quantile-over-time of each
    bin: quantile-over-time misclassifies any stationary tonal
    component as noise and gates it (verified −5 dB on sustained
    harmonics); the across-frequency median is robust to sparse
    spectral peaks and tracks time-varying broadband noise. Bins whose
    power clears ``over²`` × floor pass (subtraction gain); the rest
    duck to ``gain_floor²`` (a gentle gate, not a hard zero — hard
    zeroing yields musical-noise artifacts).

    Returns (float32 samples, estimated mean noise-floor dBFS). Length
    is preserved exactly. ``n_fft`` is a CAP: the effective window is
    the largest power of two ≤ min(n_fft, len/8) (floor ≥ 64, hop =
    n_fft/4) — short clips need proportionally short windows or the
    floor statistics collapse (512-sample windows on a 236 ms clip
    measured ~0 dB improvement; 128-sample windows +5 dB). Clips
    shorter than 2× the effective window pass through unchanged.
    """
    n = len(x)
    n_fft = min(n_fft, 1 << max(6, (n // 8).bit_length() - 1))
    hop = n_fft // 4
    if n < 2 * n_fft:
        return x.astype(np.float32), float("-inf")
    pad = np.pad(x.astype(np.float64), (0, n_fft + hop))
    win = np.hanning(n_fft)
    S = _stft(pad, n_fft, hop, win)
    p = np.abs(S) ** 2
    nf = np.median(p, axis=1)[:, None] / np.log(2.0)
    gain = np.maximum(
        1.0 - (over**2) * nf / np.maximum(p, 1e-20), gain_floor**2
    )
    y = _istft(S * np.sqrt(gain), n_fft, hop, win)
    y = y[:n] if len(y) >= n else np.pad(y, (0, n - len(y)))
    # mean per-sample noise power implied by the floor estimate,
    # normalized by the window's power gain → comparable to dBFS
    floor_pow = float(np.mean(nf)) * S.shape[1] / (
        n_fft * float(np.sum(win**2)) / 2.0
    )
    floor_db = 10.0 * np.log10(max(floor_pow, 1e-20))
    return np.clip(y, -0.99997, 0.99997).astype(np.float32), floor_db


def make_denoise_udf(
    n_fft: int = 512,
    over: float = 2.0,
    gain_floor: float = 0.05,
):
    def step(sr, x):
        y, floor_db = denoise_pcm(
            x, n_fft=n_fft, over=over, gain_floor=gain_floor
        )
        return y, sr, float(floor_db)

    return _clip_udf(step, DENOISED_TYPE)


def denoise_clips(
    df,
    *,
    n_fft: int = 512,
    over: float = 2.0,
    gain_floor: float = 0.05,
):
    """Corpus noise suppression (the cleanup half of the robustness
    recipe — `augment_clips`/`mix_noise_clips` ADD noise for training
    diversity; field-recorded ingest needs the inverse before QC
    thresholds and fingerprint dedup fire on hiss instead of content).
    Deterministic (no RNG) and map-only: ONE Arrow decode→gate→encode
    pass, no shuffle, no join — the same 10^12-clip shape as every
    other payload transform in this module. Adds lineage column
    ``noise_floor_db`` (the estimate the gate used; -inf for clips too
    short to denoise)."""
    udf = make_denoise_udf(n_fft, over, gain_floor)
    return _swap_payload(df, udf(F.col("bytes")), ["noise_floor_db"])


PROFILE_CLIPS_TYPE = T.StructType(
    [
        T.StructField("section", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def profile_clips(
    df,
    *,
    transcript_col: str = "transcript",
    clipping_threshold: float = 0.002,
    dc_threshold: float = 0.02,
) -> "DataFrame":
    """Audio corpus data card: one long-format stat frame (section,
    metric, value) — the audio twin of ``profile.profile_columns`` and
    the dataset-documentation artifact a training corpus ships with
    (cf. "Datasheets for Datasets", Gebru et al. 2021).

    Sections: ``corpus`` (clip count, total hours, decode health),
    ``codec`` / ``sr_hz`` (breakdowns, one row per distinct value),
    ``duration_ms`` (min/mean/median/max), ``audio`` (QC rates from the
    one-decode-pass feature screen: clipping, DC bias, mean silence
    ratio, mean peak), ``transcript`` (token stats, empty rate, mean
    speaking rate in tokens/sec).

    Scale shape: ONE Arrow decode pass projects each clip to five
    floats; the persisted narrow frame (rows × ~6 doubles — payloads
    dropped before any aggregation) then feeds one global aggregate and
    two small groupBys. Long format keeps the schema fixed, so cards
    append to a lakehouse table and diff run-over-run.
    """
    from pyspark import StorageLevel

    feats = df.select(
        F.col("codec"),
        F.col("sr_hz"),
        F.col("dur_ms").cast("double").alias("dur_ms"),
        F.size(F.split(F.col(transcript_col), " ")).cast("double").alias(
            "_tok"
        ),
        (F.col(transcript_col).isNull()
         | (F.length(transcript_col) == 0)).cast("double").alias("_empty"),
        audio_features_ext(F.col("bytes")).alias("_a"),
    ).select(
        "codec", "sr_hz", "dur_ms", "_tok", "_empty", "_a.*"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        g = feats.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dur_ms").alias("dur_sum"),
            F.min("dur_ms").alias("dur_min"),
            F.avg("dur_ms").alias("dur_mean"),
            F.expr("percentile(dur_ms, 0.5)").alias("dur_median"),
            F.max("dur_ms").alias("dur_max"),
            F.avg(F.col("peak").isNull().cast("double")).alias(
                "decode_fail_rate"
            ),
            F.avg(
                (F.col("clipping_ratio") > clipping_threshold)
                .cast("double")
            ).alias("clipping_rate"),
            F.avg(
                (F.abs(F.col("dc_offset")) > dc_threshold).cast("double")
            ).alias("dc_offset_rate"),
            F.avg("silence_ratio").alias("mean_silence_ratio"),
            F.avg("peak").alias("mean_peak"),
            F.avg("_tok").alias("tok_mean"),
            F.avg("_empty").alias("empty_rate"),
            F.avg(
                F.when(F.col("dur_ms") > 0,
                       F.col("_tok") / (F.col("dur_ms") / 1000.0))
            ).alias("tok_per_sec_mean"),
        ).collect()[0]  # one row of corpus-wide scalars
        rows = [
            ("corpus", "n_clips", float(g["n"])),
            ("corpus", "total_hours", float(g["dur_sum"] or 0) / 3.6e6),
            ("corpus", "decode_fail_rate", float(g["decode_fail_rate"])),
            ("duration_ms", "min", g["dur_min"]),
            ("duration_ms", "mean", g["dur_mean"]),
            ("duration_ms", "median", g["dur_median"]),
            ("duration_ms", "max", g["dur_max"]),
            ("audio", "clipping_rate", g["clipping_rate"]),
            ("audio", "dc_offset_rate", g["dc_offset_rate"]),
            ("audio", "mean_silence_ratio", g["mean_silence_ratio"]),
            ("audio", "mean_peak", g["mean_peak"]),
            ("transcript", "mean_tokens", g["tok_mean"]),
            ("transcript", "empty_rate", g["empty_rate"]),
            ("transcript", "tokens_per_sec_mean", g["tok_per_sec_mean"]),
        ]
        spark = df.sparkSession
        scalars = spark.createDataFrame(
            [
                {"section": s, "metric": m,
                 "value": None if v is None else float(v)}
                for s, m, v in rows
            ],
            schema=PROFILE_CLIPS_TYPE,
        )
        breakdowns = (
            feats.groupBy(F.lit("codec").alias("section"),
                          F.col("codec").alias("metric"))
            .agg(F.count(F.lit(1)).cast("double").alias("value"))
            .unionByName(
                feats.groupBy(
                    F.lit("sr_hz").alias("section"),
                    F.col("sr_hz").cast("string").alias("metric"),
                ).agg(F.count(F.lit(1)).cast("double").alias("value"))
            )
        )
        return scalars.unionByName(breakdowns).orderBy(
            "section", "metric"
        ).localCheckpoint()
    finally:
        feats.unpersist()


# --- EBU R128 / ITU-R BS.1770 integrated loudness -----------------------------
# The broadcast loudness standard a corpus data card quotes and a
# levelling pass targets (-23 LUFS program loudness). No scipy in this
# container, so the K-weighting chain (stage-1 head-model high shelf +
# stage-2 RLB high-pass, ITU-R BS.1770-4 §1) is applied in the
# FREQUENCY domain: block mean-square is computed via Parseval over
# rfft bins weighted by the exact biquad transfer-function magnitude
# |H(e^jw)|^2 — identical to time-domain filtering for power
# measurement up to block-edge transients (the biquads' impulse
# responses are ~ms; blocks are 400 ms). Coefficients derive from the
# published analog prototypes via the standard bilinear forms (the
# spec's 48 kHz tables are these formulas at fs=48000 — verified in
# tests to 1e-6).

_R128_SHELF_F0 = 1681.9744509555319
_R128_SHELF_GAIN_DB = 3.99984385397
_R128_SHELF_Q = 0.7071752369554196
_R128_HP_F0 = 38.13547087602444
_R128_HP_Q = 0.5003270373238773
_R128_ABS_GATE = -70.0


def _r128_biquads(fs: float):
    """(b, a) coefficient pairs for the two K-weighting stages at an
    arbitrary sample rate (libebur128/ffmpeg formulas)."""
    import math

    k = math.tan(math.pi * _R128_SHELF_F0 / fs)
    vh = 10.0 ** (_R128_SHELF_GAIN_DB / 20.0)
    vb = vh ** 0.4996667741545416
    q = _R128_SHELF_Q
    a0 = 1.0 + k / q + k * k
    shelf_b = [
        (vh + vb * k / q + k * k) / a0,
        2.0 * (k * k - vh) / a0,
        (vh - vb * k / q + k * k) / a0,
    ]
    shelf_a = [1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / q + k * k) / a0]

    k = math.tan(math.pi * _R128_HP_F0 / fs)
    q = _R128_HP_Q
    a0 = 1.0 + k / q + k * k
    hp_b = [1.0 / a0, -2.0 / a0, 1.0 / a0]
    hp_a = [1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / q + k * k) / a0]
    return (shelf_b, shelf_a), (hp_b, hp_a)


def _k_weight_sq(freqs: np.ndarray, fs: float) -> np.ndarray:
    """|H_K(f)|^2 of the full K-weighting chain on the given bins."""
    out = np.ones_like(freqs, dtype=np.float64)
    z1 = np.exp(-2j * np.pi * freqs / fs)
    z2 = z1 * z1
    for b, a in _r128_biquads(fs):
        num = b[0] + b[1] * z1 + b[2] * z2
        den = a[0] + a[1] * z1 + a[2] * z2
        out *= (num * np.conj(num)).real / (den * np.conj(den)).real
    return out


def integrated_lufs(x: np.ndarray, sr: int) -> Optional[float]:
    """BS.1770-4 integrated loudness of a mono clip: 400 ms blocks at
    75% overlap, K-weighted block powers, -70 LUFS absolute gate then
    the -10 LU relative gate. Clips shorter than one block measure as
    a single whole-clip block (documented deviation — the spec simply
    has no answer below 400 ms). Returns None for silence (all blocks
    below the absolute gate)."""
    if len(x) == 0:
        return None
    n = int(round(sr * 0.400))
    hop = max(1, int(round(sr * 0.100)))
    xf = np.asarray(x, dtype=np.float64)
    if len(xf) < n:
        frames = xf[None, :]
        n = len(xf)
    else:
        n_frames = 1 + (len(xf) - n) // hop
        idx = np.arange(n)[None, :] + hop * np.arange(n_frames)[:, None]
        frames = xf[idx]
    spec = np.fft.rfft(frames, axis=1)
    hsq = _k_weight_sq(np.fft.rfftfreq(n, 1.0 / sr), float(sr))
    # Parseval fold: double every bin except DC (and Nyquist when n even)
    fold = np.full(spec.shape[1], 2.0)
    fold[0] = 1.0
    if n % 2 == 0:
        fold[-1] = 1.0
    power = ((spec * np.conj(spec)).real * hsq * fold).sum(axis=1) / (
        float(n) * float(n)
    )
    with np.errstate(divide="ignore"):
        block_lufs = -0.691 + 10.0 * np.log10(power)
    keep = block_lufs > _R128_ABS_GATE
    if not keep.any():
        return None
    rel = -0.691 + 10.0 * np.log10(power[keep].mean()) - 10.0
    keep &= block_lufs > rel
    if not keep.any():
        return None
    return float(-0.691 + 10.0 * np.log10(power[keep].mean()))


LOUDNESS_TYPE = T.DoubleType()


def measure_loudness_clips(df, out_col: str = "lufs"):
    """Add a BS.1770 integrated-loudness column (one Arrow pass,
    map-only; NULL for undecodable or gated-silent payloads)."""
    udf = _clip_udf(lambda sr, x: integrated_lufs(x, sr), LOUDNESS_TYPE)
    return df.withColumn(out_col, udf(F.col("bytes")))


# --- Telephony channel simulation ---------------------------------------------

TELEPHONY_TYPE = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
    ]
)


def simulate_telephony_clips(
    df,
    *,
    low_hz: float = 300.0,
    high_hz: float = 3400.0,
    codec: str = "mulaw",
    keep_rate: bool = True,
):
    """Telephony-channel robustness augmentation: the narrowband PSTN
    path every real ASR corpus partially arrives through — 8 kHz
    resample, 300–3400 Hz bandpass (the G.712 passband; implemented as
    an ideal FFT brick-wall — deterministic, the mask-shaped stand-in),
    a G.711 μ-law/A-law quantization round trip, and (``keep_rate``)
    sinc-upsampling back to the ORIGINAL rate with exact length
    restoration, so dur_ms and alignment windows stay valid while the
    content is authentically narrowband (``detect_upsampled_clips``
    flags the output — the two ops cross-check each other, gated).

    Composition of the module's own kernels (windowed-sinc resampler,
    g711 codecs) in ONE Arrow pass; map-only, no RNG — deterministic
    under any partitioning/retry. At 10^12 clips: embarrassingly
    parallel, cost one decode + two resamples per clip.
    """
    from . import g711

    if codec == "mulaw":
        enc, dec = g711.mulaw_encode, g711.mulaw_decode
    elif codec == "alaw":
        enc, dec = g711.alaw_encode, g711.alaw_decode
    else:
        raise ValueError(f"unsupported telephony codec: {codec!r}")
    lo, hi = float(low_hz), float(high_hz)
    if not (0 <= lo < hi <= 4000.0):
        raise ValueError("band must satisfy 0 <= low < high <= 4000 Hz")

    def step(sr, x):
        n_in = len(x)
        y = _resample_sinc(x, sr, 8000) if sr != 8000 else x
        if len(y):
            spec = np.fft.rfft(y.astype(np.float64))
            f = np.fft.rfftfreq(len(y), 1.0 / 8000.0)
            spec[(f < lo) | (f > hi)] = 0.0
            y = np.fft.irfft(spec, n=len(y))
        y = dec(enc(np.clip(y, -1.0, 1.0).astype(np.float32)))
        if keep_rate and sr != 8000:
            y = _resample_sinc(y, 8000, sr)
            if len(y) < n_in:  # exact length restoration
                y = np.pad(y, (0, n_in - len(y)))
            else:
                y = y[:n_in]
        return y, sr if keep_rate else 8000

    udf = _clip_udf(step, TELEPHONY_TYPE)
    return _swap_payload(
        df, udf(F.col("bytes")), [("channel", F.lit("telephony"))]
    )
