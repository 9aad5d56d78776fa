#!/usr/bin/env python
"""Honest cost datapoint for the pure-Python media codecs (VERDICT r4 item 4).

Measures single-core decode throughput (payload bytes/s and output pixels- or
samples/s) for each in-repo codec on deterministic, realistic-size payloads,
then writes BENCH/MEDIA.md.  The numbers exist so the 100-TB deployment
decision — keep the dependency-free pure-Python kernels vs take the documented
PIL/pyav seam on clusters where those libs are installable — is made from a
measured table, not a guess.

The codec stage is embarrassingly parallel (narrow mapInPandas, no shuffle),
so per-core numbers multiply linearly across executors; what this table tells
you is the *core-hours per TB of media*, which is the real cost axis.

Usage: python scripts/media_bench.py [reps]
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from relation_extraction_cdr_spark.functions.codecs import (  # noqa: E402
    avi_decode,
    avi_encode,
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_progressive,
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


def _rgb(h: int, w: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    # Smooth gradients + noise: compresses like a photo, not like static.
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            (xx * 255 // max(w - 1, 1)),
            (yy * 255 // max(h - 1, 1)),
            ((xx + yy) * 255 // max(h + w - 2, 1)),
        ],
        axis=-1,
    ).astype(np.int16)
    noise = rng.integers(-16, 17, size=(h, w, 3), dtype=np.int16)
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def _bench(label, payload, out_units, unit_name, decode, reps):
    # Calibrate an inner loop so each timed rep runs >= 50 ms (the WAV/AVI
    # numpy paths decode a single payload in microseconds).
    inner, t0 = 1, time.perf_counter()
    decode(payload)
    once = time.perf_counter() - t0
    if once < 0.05:
        inner = max(1, int(0.05 / max(once, 1e-7)))
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(inner):
            decode(payload)
        walls.append((time.perf_counter() - t0) / inner)
    wall = float(np.median(walls))
    return {
        "codec": label,
        "payload_bytes": len(payload),
        "out_units": out_units,
        "unit": unit_name,
        "wall_s": float(f"{wall:.4g}"),
        "bytes_per_s": int(len(payload) / wall),
        "units_per_s": int(out_units / wall),
    }


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    rows = []

    px = _rgb(256, 256, seed=7)
    npx = px.shape[0] * px.shape[1]

    rows.append(_bench("PNG 256x256 RGB", png_encode(px), npx, "px", png_decode, reps))
    rows.append(
        _bench(
            "JPEG baseline 4:4:4 256x256",
            jpeg_encode(px),
            npx,
            "px",
            jpeg_decode,
            reps,
        )
    )
    rows.append(
        _bench(
            "JPEG baseline 4:2:0 256x256",
            jpeg_encode(px, subsampling="420"),
            npx,
            "px",
            jpeg_decode,
            reps,
        )
    )
    rows.append(
        _bench(
            "JPEG progressive 256x256",
            jpeg_encode_progressive(px),
            npx,
            "px",
            jpeg_decode,
            reps,
        )
    )

    rng = np.random.default_rng(11)
    samples = (rng.standard_normal(16000 * 10) * 8000).astype(np.int16)  # 10 s @ 16 kHz
    rows.append(
        _bench(
            "WAV PCM-16 10s@16kHz",
            wav_encode(samples, sample_rate=16000),
            samples.size,
            "smp",
            wav_decode,
            reps,
        )
    )

    frames = np.stack([_rgb(96, 128, seed=100 + i) for i in range(24)])
    rows.append(
        _bench(
            "AVI uncompressed 24f 128x96",
            avi_encode(frames),
            frames.shape[0] * frames.shape[2] * frames.shape[1],
            "px",
            avi_decode,
            reps,
        )
    )

    lines = [
        "# BENCH/MEDIA — pure-Python codec decode cost (single core)",
        "",
        "Measured by `scripts/media_bench.py` (median of %d reps, deterministic" % reps,
        "synthetic payloads).  The media stage is embarrassingly parallel (narrow",
        "`mapInPandas`, zero shuffle — operators/multimodal.py), so these per-core",
        "numbers scale linearly with executor count; the decision axis is",
        "core-hours per TB of media.",
        "",
        "| codec / payload | payload KB | decode wall s | MB/s/core | out units/s |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            "| %s | %.1f | %.4g | %.2f | %s %s/s |"
            % (
                r["codec"],
                r["payload_bytes"] / 1024,
                r["wall_s"],
                r["bytes_per_s"] / 1e6,
                f"{r['units_per_s']:,}",
                r["unit"],
            )
        )
    slowest = min(rows, key=lambda r: r["bytes_per_s"])
    fastest = max(rows, key=lambda r: r["bytes_per_s"])
    lines += [
        "",
        "## Deployment guidance (the honest number)",
        "",
        "- Slowest path: **%s** at %.2f MB/s/core; fastest: **%s** at %.1f MB/s/core."
        % (
            slowest["codec"],
            slowest["bytes_per_s"] / 1e6,
            fastest["codec"],
            fastest["bytes_per_s"] / 1e6,
        ),
        "- Public reference points: libjpeg-turbo decodes ~100-250 MB/s/core and",
        "  libpng ~50-150 MB/s/core (SIMD C).  The pure-Python image kernels here",
        "  are therefore ~10^2-10^3x slower per byte; WAV/AVI (vectorized numpy",
        "  sample paths) are within ~1-2 orders of the C libraries.",
        "- Rule of thumb from this table: decoding 1 TB of JPEG at the measured",
        "  rate costs ~%d core-hours vs ~1-3 core-hours with libjpeg-turbo."
        % int(1e12 / slowest["bytes_per_s"] / 3600),
        "- **Decision**: on any cluster where PIL/pyav are installable, take the",
        "  feature-detected accelerated path (operators/multimodal.py seam) for",
        "  bulk media; the pure-Python kernels remain the correctness oracle,",
        "  the zero-dependency fallback, and the quarantine-path validator.",
        "  For text-dominated corpora (media a few % of bytes) the pure-Python",
        "  path is affordable as-is because it parallelizes perfectly.",
        "",
    ]
    out = "\n".join(lines)
    (REPO / "BENCH" / "MEDIA.md").write_text(out)
    print(json.dumps(rows))
    print("wrote BENCH/MEDIA.md", file=sys.stderr)


if __name__ == "__main__":
    main()
