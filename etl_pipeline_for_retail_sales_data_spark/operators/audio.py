"""Audio near-dup fingerprinting over REAL WAV payloads — the
constellation/landmark method (Wang 2003, the Shazam paper; also the
shape audfprint and Chromaprint-style dedup pipelines use), with no
third-party libs: stdlib ``wave`` for the RIFF/PCM codec and numpy for
the frame FFTs.

Pipeline per document: synthesize → RIFF/PCM WAV bytes → decode the
ACTUAL bytes back (the real-codec discipline of operators/multimodal) →
frame into non-overlapping windows → rfft magnitude spectra → per-frame
spectral peak → landmark hashes (anchor-peak bin, target-peak bin,
frame delta) → inverted-index equi-join on the hash → per-pair
time-offset histogram → pairs whose best aligned-offset count clears
the threshold.

Why this matches the dedup contract: a gain change (volume) scales
every spectrum uniformly, so per-frame argmax peak bins — and therefore
every landmark hash — are IDENTICAL across gain-shifted copies of the
same recording. In-group members differ by pure gain by construction,
so they share all landmarks at offset 0 (recall 1, count pinned by the
landmark-count formula); unrelated recordings share landmarks only by
chance, and chance matches scatter across offsets, so the aligned-count
threshold kills them (the margins are measured in the tests, the same
discipline as image_phash's Hamming margins).

Scale shape: the signature pass is one Arrow stage (no shuffle); the
ONLY shuffles are the landmark equi-join and the pair aggregation —
exactly the inverted-index discipline of the n-gram/minhash families,
never an all-pairs join. Hot landmark keys (a ubiquitous spectral
transition at web scale — silence, mains hum) are dropped by a
document-frequency cap BEFORE the join, the same stop-key guard as
``ngram_jaccard_capped``: a transition every recording contains carries
no pairing signal but d² join fan-out.

Reference parity note: the reference repo has no audio path (743 lines
of pandas/Airflow ETL); this is the training-data extension tier next
to image pHash dedup (multimodal.image_phash_candidates).
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import posting_pairs

LANDMARK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lm_hash", T.LongType()),
        T.StructField("t", T.IntegerType()),
    ]
)


def landmark_count(n_frames: int, n_targets: int) -> int:
    """Landmarks per document — every anchor frame pairs with its next
    ``n_targets`` frames (truncated at the end of the recording):
    n_targets·n_frames − n_targets·(n_targets+1)/2. Deterministic, so
    oracles can pin it as a constant."""
    return n_targets * n_frames - n_targets * (n_targets + 1) // 2


def _mix(g: int, t: int) -> int:
    """Deterministic per-(group, frame) melody step — a Knuth-style
    integer mix, stable across executors (no Python hash
    randomization)."""
    x = (g * 2654435761 + t * 40503 + 12345) & 0xFFFFFFFF
    x ^= x >> 13
    x = (x * 2246822519) & 0xFFFFFFFF
    x ^= x >> 16
    return x


# bin → immutable sin tone row; bounded by the distinct (bin, frame_len)
# pairs (n_bins ~ frame_len/2), pure function values only — never
# document- or corpus-keyed state
_TONE_ROWS: dict = {}


def synth_wav(
    doc_id: int,
    group_size: int = 4,
    n_frames: int = 32,
    frame_len: int = 1024,
    framerate: int = 8000,
) -> bytes:
    """REAL RIFF/PCM WAV bytes for one document: a per-group 'melody'
    of pure tones (one dominant spectral peak per frame, bin chosen by
    :func:`_mix` from the ``doc_id // group_size`` group id), rendered
    at a per-member gain (1 + 0.15·(id % group_size)). Same group ⇒
    same recording at different volume — a true audio near-dup; the
    dominant-peak margin is orders of magnitude above int16
    quantization noise, so peak bins never flip between members."""
    import numpy as np

    g = doc_id // group_size
    m = doc_id % group_size
    gain = 1.0 + 0.15 * m
    n_bins = frame_len // 2 - 32  # keep clear of DC and Nyquist
    # per-BIN tone rows from a bounded pure-math table (r11, guide §4.3
    # "heavyweight init once per task"): sin(2π·b·k/frame_len) depends
    # only on (b, frame_len) — at most n_bins distinct rows ever exist
    # (~4 MB at the default 1024), and every doc in a group reuses its
    # group's 32 rows, so after warmup the per-doc cost is scale+round,
    # not 32k sins. Scalar·array evaluation order ((2π·b)·k, then
    # /frame_len) matches the former grid broadcast element-wise, so
    # the doubles — and every WAV byte — are bit-identical (pinned in
    # tests/test_audio_fingerprint.py).
    tones = np.empty((n_frames, frame_len))
    for t in range(n_frames):
        b = 16 + _mix(g, t) % n_bins
        row = _TONE_ROWS.get((b, frame_len))
        if row is None:
            k = np.arange(frame_len)
            row = np.sin(2 * np.pi * b * k / frame_len)
            row.setflags(write=False)
            _TONE_ROWS[(b, frame_len)] = row
        tones[t] = row
    samples = np.round(6000.0 * gain * tones).astype(np.int16).reshape(-1)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _wav_landmark_arrays(payload: bytes, frame_len: int = 1024, n_targets: int = 2):
    """Decode REAL WAV bytes (stdlib ``wave``) and extract constellation
    landmarks: non-overlapping ``frame_len`` windows → rfft magnitude →
    per-frame peak bin (DC excluded) → for each anchor frame t and each
    d in 1..n_targets a hash (peak[t] << 16) | (peak[t+d] << 4) | d.
    Returns an (int64 hash array, int time array) pair in (t-major,
    d-ascending) order, or ``[]`` when the payload frames to fewer than
    2 windows. Gain-invariant: argmax commutes with the uniform scaling
    a volume change applies to every magnitude."""
    import numpy as np

    if not 1 <= n_targets <= 15:
        raise ValueError(f"n_targets must be in 1..15 (4-bit hash slot), got {n_targets}")
    if frame_len > 8190:
        raise ValueError(
            f"frame_len must be <= 8190 (peak bins must fit the 12-bit hash "
            f"slot), got {frame_len}"
        )
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("landmarking expects 16-bit mono PCM")
        raw = w.readframes(w.getnframes())
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    n_frames = len(samples) // frame_len
    if n_frames < 2:
        # same (hash array, time array) shape as the landmark path (r11
        # ADVICE: a list-vs-tuple dual return forced isinstance dispatch
        # in every consumer)
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    windows = samples[: n_frames * frame_len].reshape(n_frames, frame_len)
    mags = np.abs(np.fft.rfft(windows, axis=1))
    peaks = 1 + mags[:, 1:].argmax(axis=1)  # DC excluded
    # vectorized hash build (r11, guide §4.2): one shift/or pass per
    # target distance instead of a Python tuple loop per landmark. The
    # stable argsort by anchor frame restores the exact (t-major,
    # d-ascending) order of the former double loop — list output is
    # element-for-element identical (tests compare lists directly).
    p64 = peaks.astype(np.int64)
    hs, ts = [], []
    for d in range(1, n_targets + 1):
        if n_frames - d <= 0:
            break
        hs.append((p64[: n_frames - d] << 16) | (p64[d:] << 4) | d)
        ts.append(np.arange(n_frames - d))
    h_all = np.concatenate(hs)
    t_all = np.concatenate(ts)
    order = np.argsort(t_all, kind="stable")
    return h_all[order], t_all[order]


def wav_landmarks(payload: bytes, frame_len: int = 1024, n_targets: int = 2) -> list:
    """List-of-(hash, t) form of :func:`_wav_landmark_arrays` — the
    public shape the tests and offline tooling consume."""
    h_all, t_all = _wav_landmark_arrays(payload, frame_len=frame_len, n_targets=n_targets)
    return list(zip(h_all.tolist(), t_all.tolist()))


def audio_landmark_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    group_size: int = 4,
    n_frames: int = 32,
    frame_len: int = 1024,
    n_targets: int = 2,
) -> DataFrame:
    """Signature stage: one Arrow pass per partition, emitting one row
    per landmark (doc_id, lm_hash, t). The WAV round trip is REAL —
    bytes are written by the stdlib encoder and re-parsed by the
    decoder before any spectral math, so a broken RIFF layout fails
    here, not silently downstream. No shuffle."""

    def lm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes, ts = [], [], []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                payload = synth_wav(
                    i, group_size=group_size, n_frames=n_frames, frame_len=frame_len
                )
                h_all, t_all = _wav_landmark_arrays(
                    payload, frame_len=frame_len, n_targets=n_targets
                )
                if len(h_all):
                    ids.append(np.full(len(h_all), i, dtype=np.int64))
                    hashes.append(h_all)
                    ts.append(t_all)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids) if ids else np.array([], dtype=np.int64),
                    "lm_hash": np.concatenate(hashes) if hashes else np.array([], dtype=np.int64),
                    "t": np.concatenate(ts) if ts else np.array([], dtype=np.int64),
                }
            )

    return df.select(F.col(id_col).cast("long").alias(id_col)).mapInPandas(
        lm_batches, LANDMARK_SCHEMA
    )


def audio_fingerprint_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    group_size: int = 4,
    n_frames: int = 32,
    frame_len: int = 1024,
    n_targets: int = 2,
    min_matches: int | None = None,
    max_postings: int = 64,
) -> DataFrame:
    """The COMPLETE audio near-dup pipeline: landmark signatures →
    hot-key cap (landmark keys with more than ``max_postings`` rows are
    dropped BEFORE the join — the ubiquitous-transition guard; at web
    scale that is silence/hum, and a key every document shares would
    otherwise fan out d² pairs through one reducer) → inverted-index
    equi-join on lm_hash → per-pair TIME-OFFSET histogram (Wang 2003's
    alignment step: true copies agree on one offset, chance collisions
    scatter) → pairs whose best-offset count reaches ``min_matches``
    (default: half the landmark count — in-group pairs score the FULL
    count at offset 0, measured chance maxima are single digits; the
    margin is pinned in tests).

    The cap stays scale-meaningful because the hash space is large
    (~(frame_len/2)² · n_targets ≈ 460k keys at the defaults): mean
    postings per key grow slowly with corpus size, so a fixed cap trims
    only the pathological tail rather than the working mass. Returns
    (id_a, id_b). Shuffles: the :func:`dedup.posting_pairs` repartition
    on lm_hash (the posting count is a window over it, and the join's
    second side is a reused exchange — no second Arrow pass), then the
    pair aggregation."""
    if min_matches is None:
        min_matches = landmark_count(n_frames, n_targets) // 2
    lm = audio_landmark_signatures(
        df,
        id_col=id_col,
        group_size=group_size,
        n_frames=n_frames,
        frame_len=frame_len,
        n_targets=n_targets,
    )
    return (
        posting_pairs(lm, "lm_hash", ["t"], max_df=max_postings)
        .groupBy(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            (F.col("t_b") - F.col("t_a")).alias("__off"),
        )
        .agg(F.count("*").alias("__n"))
        .groupBy("id_a", "id_b")
        .agg(F.max("__n").alias("__best"))
        .filter(F.col("__best") >= F.lit(min_matches))
        .select("id_a", "id_b")
    )
