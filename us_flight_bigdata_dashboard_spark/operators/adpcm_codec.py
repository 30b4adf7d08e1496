"""IMA ADPCM (DVI4) audio in a real WAVE container, under the exact gate.

The classic 4:1 adaptive-delta codec (wFormatTag 0x11): each 16-bit
sample becomes a 4-bit nibble whose meaning depends on a per-stream
adaptive step size — unlike G.711 (memoryless per-sample companding),
ADPCM decode is a SEQUENTIAL STATE MACHINE: predictor and step-index
evolve sample to sample, so a correct decode proves the whole chain, not
any one sample. That makes the oracle interesting: there is no per-sample
closed form to state in SQL, so the oracle runs the SAME integer
recurrence as a RECURSIVE CTE (64 unrolled steps per document, all
documents advanced set-at-a-time per iteration) — demonstrating that even
inherently sequential decoders can be cross-engine-verified exactly, the
same way the EWMA fold is (a recurrence stated twice, once per engine).

Canonical IMA-in-WAV block framing: a 4-byte block header carrying the
verbatim first sample (int16) + initial step index (uint8) + reserved
byte, then 63 low-nibble-first packed nibbles (32 data bytes, final high
nibble zero-padded) — 64 samples per 36-byte block, fmt extension
(cbSize=2, wSamplesPerBlock) and the non-PCM ``fact`` chunk included as
the spec requires. The encoder is closed-loop (tracks the decoder's
reconstruction), so decoded output = the oracle's recurrence over the
generator samples.

The PCM generator sweeps large jumps across the full int16 range, so both
predictor clamps (±32767/−32768), both step-index clamps (0/88), and every
delta bit pattern are exercised by the gate data itself.

Worker helpers are NESTED closures (pickled by value; see multimodal.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from us_flight_bigdata_dashboard_spark.sources.catalog import load_table

ADPCM_SAMPLES = 64  # 1 header sample + 63 nibble-coded samples per block
ADPCM_RATE = 8000

# sample(mid, p) = ((mid·37 + p·1031) mod 65536) − 32768 (full-range jumps)
_PCM_MUL, _PCM_STEP = 37, 1031

# IMA ADPCM step-size table (89 entries) and index-adjust table — the
# published constants from the IMA Digital Audio Focus and Technical
# Working Groups recommendation (also RFC 3551 DVI4).
STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]  # indexed by nibble magnitude bits


def _pcm_samples(mid: int) -> list[int]:
    return [
        ((mid * _PCM_MUL + p * _PCM_STEP) % 65536) - 32768
        for p in range(ADPCM_SAMPLES)
    ]


def _step_encode(x: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One closed-loop IMA encode step: returns (nibble, new_pred, new_idx)."""
    step = STEP_TABLE[idx]
    diff = x - pred
    sign = 8 if diff < 0 else 0
    if diff < 0:
        diff = -diff
    delta = 0
    if diff >= step:
        delta |= 4
        diff -= step
    if diff >= step >> 1:
        delta |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        delta |= 1
    vpdiff = (step >> 3) + (step if delta & 4 else 0) + (
        (step >> 1) if delta & 2 else 0
    ) + ((step >> 2) if delta & 1 else 0)
    pred = pred - vpdiff if sign else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + INDEX_TABLE[delta]))
    return sign | delta, pred, idx


ADPCM_WRITE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

ADPCM_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sum_decoded", T.LongType()),
        T.StructField("sum_sq_decoded", T.LongType()),
    ]
)


def make_adpcm_writer(pcm_fn=None):
    """mapInPandas worker: (media_id) → real IMA-ADPCM WAV bytes
    (RIFF/WAVE, fmt tag 0x11 + samples-per-block extension, fact chunk,
    one canonical 36-byte block)."""

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        steps = STEP_TABLE
        idx_tab = INDEX_TABLE

        def enc_step(x, pred, idx):
            step = steps[idx]
            diff = x - pred
            sign = 8 if diff < 0 else 0
            if diff < 0:
                diff = -diff
            delta = 0
            if diff >= step:
                delta |= 4
                diff -= step
            if diff >= step >> 1:
                delta |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                delta |= 1
            vpdiff = (step >> 3) + (step if delta & 4 else 0) + (
                (step >> 1) if delta & 2 else 0
            ) + ((step >> 2) if delta & 1 else 0)
            pred = pred - vpdiff if sign else pred + vpdiff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + idx_tab[delta]))
            return sign | delta, pred, idx

        def build(mid: int) -> bytes:
            pcm = pcm_fn(mid) if pcm_fn is not None else [
                ((mid * _PCM_MUL + p * _PCM_STEP) % 65536) - 32768
                for p in range(ADPCM_SAMPLES)
            ]
            pred, idx = pcm[0], 0
            nibbles = []
            for x in pcm[1:]:
                nib, pred, idx = enc_step(x, pred, idx)
                nibbles.append(nib)
            if len(nibbles) % 2:
                nibbles.append(0)  # pad final high nibble
            data = _struct.pack("<hBB", pcm[0], 0, 0) + bytes(
                (nibbles[i] | (nibbles[i + 1] << 4)) & 0xFF
                for i in range(0, len(nibbles), 2)
            )
            block_align = len(data)
            fmt = _struct.pack(
                "<HHIIHHHH",
                0x11, 1, ADPCM_RATE,
                ADPCM_RATE * block_align // ADPCM_SAMPLES,
                block_align, 4, 2, ADPCM_SAMPLES,
            )  # tag, mono, rate, byte-rate, block align, 4-bit, cbSize=2, samples/block
            fact = _struct.pack("<I", ADPCM_SAMPLES)
            body = (
                b"WAVE"
                + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"fact" + _struct.pack("<I", len(fact)) + fact
                + b"data" + _struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) % 2 else b"")
            )
            return b"RIFF" + _struct.pack("<I", len(body)) + body

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": [int(m) for m in pdf["media_id"]],
                    "payload": [build(int(m)) for m in pdf["media_id"]],
                }
            )

    return write


def make_adpcm_decoder():
    """mapInPandas worker: real chunk walk, ADPCM format validation
    (tag 0x11, 4-bit, fact count, block-align consistency), block-header
    seed + sequential nibble expansion, integer-exact decoded-signal sums."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        steps = STEP_TABLE
        idx_tab = INDEX_TABLE

        def dec_step(nib, pred, idx):
            if idx < 0 or idx > 88:
                raise ValueError(f"ADPCM step index {idx} out of range")
            step = steps[idx]
            delta = nib & 7
            vpdiff = (step >> 3) + (step if delta & 4 else 0) + (
                (step >> 1) if delta & 2 else 0
            ) + ((step >> 2) if delta & 1 else 0)
            pred = pred - vpdiff if nib & 8 else pred + vpdiff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + idx_tab[delta]))
            return pred, idx

        def decode_one(b: bytes):
            if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                raise ValueError("not a RIFF/WAVE payload")
            pos, fmt, fact_n, data = 12, None, None, None
            while pos + 8 <= len(b):
                cid = b[pos : pos + 4]
                (clen,) = _struct.unpack("<I", b[pos + 4 : pos + 8])
                body = b[pos + 8 : pos + 8 + clen]
                if len(body) < clen:
                    raise ValueError("truncated RIFF chunk")
                if cid == b"fmt ":
                    if clen < 20:
                        raise ValueError("ADPCM fmt chunk needs the extension")
                    fmt = _struct.unpack("<HHIIHHHH", body[:20])
                elif cid == b"fact":
                    (fact_n,) = _struct.unpack("<I", body[:4])
                elif cid == b"data":
                    data = body
                pos += 8 + clen + (clen % 2)
            if fmt is None or data is None:
                raise ValueError("missing fmt/data chunk")
            tag, n_ch, rate, _br, block_align, bits, cb, spb = fmt
            if tag != 0x11:
                raise ValueError(f"wFormatTag {tag}, expected 0x11 (IMA ADPCM)")
            if bits != 4 or n_ch != 1 or cb != 2:
                raise ValueError("IMA ADPCM payload must be 4-bit mono with cbSize=2")
            if fact_n is None:
                raise ValueError("non-PCM WAV requires a fact chunk")
            if len(data) != block_align:
                raise ValueError(
                    f"data bytes {len(data)} != block align {block_align}"
                )
            if spb != fact_n:
                raise ValueError(f"samples/block {spb} != fact count {fact_n}")
            if block_align < 4 + (spb - 1 + 1) // 2:
                raise ValueError("block too short for sample count")
            pred, idx, _rsv = _struct.unpack("<hBB", data[:4])
            xs = [pred]
            nibs = []
            for byte in data[4:]:
                nibs.append(byte & 0x0F)
                nibs.append((byte >> 4) & 0x0F)
            for nib in nibs[: fact_n - 1]:
                pred, idx = dec_step(nib, pred, idx)
                xs.append(pred)
            return rate, len(xs), sum(xs), sum(x * x for x in xs)

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "media_id", "sample_rate", "n_samples",
                "sum_decoded", "sum_sq_decoded",
            )}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                # decode error boundary (fuzz-enforced)
                try:
                    rate, n, s, ss = decode_one(bytes(payload))
                except ValueError:
                    raise
                except (IndexError, KeyError, TypeError, OverflowError, _struct.error) as e:
                    raise ValueError(
                        f"corrupt IMA-ADPCM WAV payload: {type(e).__name__}: {e}"
                    ) from e
                out["media_id"].append(int(mid))
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["sum_decoded"].append(s)
                out["sum_sq_decoded"].append(ss)
            yield pd.DataFrame(out)

    return decode


def q_multimodal_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-delta audio ingest under the exact gate: every document id
    becomes a real IMA-ADPCM WAV; the decoder's reconstruction must equal
    the oracle's RECURSIVE-CTE run of the same integer state machine —
    step-table adaptation, both predictor clamps, both index clamps, and
    the closed-loop encode all land in the hash."""
    media = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    wavs = media.mapInPandas(make_adpcm_writer(), ADPCM_WRITE_SCHEMA)
    return wavs.mapInPandas(make_adpcm_decoder(), ADPCM_DECODE_SCHEMA)


def _sql_adpcm_decode() -> str:
    """The decoder recurrence as a recursive CTE: one iteration advances
    EVERY document by one sample (set-at-a-time), 63 iterations total.
    State per doc = (pred, idx, running sums); intermediates (step, delta
    bits, vpdiff) are bound by nested subselects, all integer arithmetic."""
    steps = ", ".join(str(s) for s in STEP_TABLE)
    x0 = f"(((doc_id * {_PCM_MUL}) % 65536) - 32768)"
    xp = f"(((doc_id * {_PCM_MUL} + pn * {_PCM_STEP}) % 65536) - 32768)"
    return f"""
WITH RECURSIVE st AS (
  SELECT doc_id,
         0 AS p,
         {x0} AS pred,
         0 AS idx,
         CAST({x0} AS BIGINT) AS s,
         CAST({x0} AS BIGINT) * CAST({x0} AS BIGINT) AS ss
  FROM documents
  UNION ALL
  SELECT doc_id, pn AS p, newpred, newidx,
         s + newpred, ss + CAST(newpred AS BIGINT) * CAST(newpred AS BIGINT)
  FROM (
    SELECT doc_id, pn, s, ss,
           GREATEST(-32768, LEAST(32767,
             CASE WHEN sign = 1 THEN pred - vpdiff ELSE pred + vpdiff END)) AS newpred,
           GREATEST(0, LEAST(88, idx + CASE b4*4 + b2*2 + b1
             WHEN 0 THEN -1 WHEN 1 THEN -1 WHEN 2 THEN -1 WHEN 3 THEN -1
             WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 ELSE 8 END)) AS newidx
    FROM (
      SELECT *,
             (step // 8) + b4 * step + b2 * (step // 2) + b1 * (step // 4) AS vpdiff
      FROM (
        SELECT *,
               CASE WHEN ad - b4 * step - b2 * (step // 2) >= step // 4
                    THEN 1 ELSE 0 END AS b1
        FROM (
          SELECT *,
                 CASE WHEN ad - b4 * step >= step // 2 THEN 1 ELSE 0 END AS b2
          FROM (
            SELECT *, CASE WHEN ad >= step THEN 1 ELSE 0 END AS b4
            FROM (
              SELECT doc_id, pn, pred, idx, s, ss,
                     CASE WHEN {xp} - pred < 0 THEN 1 ELSE 0 END AS sign,
                     ABS({xp} - pred) AS ad,
                     ([{steps}])[idx + 1] AS step
              FROM (SELECT doc_id, p + 1 AS pn, pred, idx, s, ss
                    FROM st WHERE p < {ADPCM_SAMPLES - 1})
            )
          )
        )
      )
    )
  )
)
SELECT doc_id AS media_id,
       {ADPCM_RATE} AS sample_rate,
       {ADPCM_SAMPLES} AS n_samples,
       CAST(s AS BIGINT) AS sum_decoded,
       CAST(ss AS BIGINT) AS sum_sq_decoded
FROM st WHERE p = {ADPCM_SAMPLES - 1}
"""


QUERIES = {
    "multimodal_adpcm_decode": q_multimodal_adpcm_decode,
}

ORACLE = {
    "multimodal_adpcm_decode": _sql_adpcm_decode(),
}
