"""Seeded benchmark inputs, written once to parquet ("warehouse" tables).

Everything here is numpy + pyarrow in the harness process, before the
Spark session starts, so input generation is outside every timing and
outside ``setup_s``. A table is cached on disk under a name made of
its kind, seed and size, and is rebuilt when its ``_SUCCESS`` marker
is missing (a run killed mid-write leaves no marker).
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fagi_spark import cells, geom, synth

FILLER_WORDS = 400  # ~2.5 KB pages, as the north-rule corpus
N_FILES = 16        # many small files: parquet scan fans out to all cores
SKEW_RADIUS_M = 200.0


def _publish(path: str, tables) -> str:
    """Write ``tables`` as part files of one parquet directory, then
    mark it complete with ``_SUCCESS``."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def _chunks(n: int, parts: int = N_FILES):
    step = max(1, math.ceil(n / parts))
    for lo in range(0, n, step):
        yield np.arange(lo, min(n, lo + step), dtype=np.int64)


def _filler_like(text: str, pool: list[str], i: int) -> str:
    """Geo-free prose of exactly ``len(text)`` characters."""
    body = pool[i % len(pool)] + " " + pool[(i + 1) % len(pool)]
    while len(body) < len(text):
        body += " " + body
    return body[:len(text)]


def pages(root: str, seed: int, n: int, geo_every: int = 1,
          synth_seed: int | None = None) -> str:
    """``n`` pages of ~2.5 KB from ``synth.page_batch`` (the per-batch
    generator behind ``synth.synth_pages``, so the rows are the ones
    ``synth_pages`` would make). With ``geo_every > 1`` only about one
    page in ``geo_every`` keeps its geo text; the others get filler of
    the same length.

    ``synth_seed`` pins the generator's city layout while ``seed`` then
    picks which page ids are drawn; used where the program under test
    builds its own gazetteer from ``synth.SEED``."""
    tag = f"pages-s{seed}-n{n}-g{geo_every}"
    if synth_seed is not None:
        tag += f"-c{synth_seed}"
    path = os.path.join(root, tag)
    gen_seed = seed if synth_seed is None else synth_seed
    offset = 0 if synth_seed is None else seed * 10_000_000
    pool = synth._filler_pool(FILLER_WORDS, gen_seed)

    def tables():
        for ids in _chunks(n):
            pdf = synth.page_batch(ids + offset, seed=gen_seed,
                                   filler_words=FILLER_WORDS)
            if geo_every > 1:
                keep = synth.h64(ids, 907, seed) % np.uint64(geo_every) == 0
                texts = [t if k else _filler_like(t, pool, int(i))
                         for t, k, i in zip(pdf["text"], keep, ids)]
                pdf["text"] = texts
                pdf["html"] = [b"<html><body>" + t.encode("utf-8")
                               + b"</body></html>" for t in texts]
            yield pa.Table.from_pandas(pdf, preserve_index=False)

    return _publish(path, tables())


def gazetteer(root: str, seed: int, n: int) -> str:
    """Dataset-B gazetteer ``(subject, geom_wkt)`` of ``n`` rows."""
    path = os.path.join(root, f"gazetteer-s{seed}-n{n}")
    return _publish(path, [pa.Table.from_pandas(
        synth.gazetteer_pdf(n, "b", seed), preserve_index=False)])


def skewed_points(seed: int, n: int, hot_n: int, side: str) -> dict:
    """Point table shaped like ``bench._skewed_points``: ``hot_n`` of
    ``n`` points fall inside one grid cell at the resolution a 200 m
    radius selects; the rest spread uniformly over ~2 degrees."""
    res = cells.res_for_radius_deg(SKEW_RADIUS_M / geom.METERS_PER_DEGREE)
    w, h = cells.cell_width_deg(res), cells.cell_height_deg(res)
    hot_lon = (math.floor(10.0 / w) + 0.5) * w
    hot_lat = (math.floor(45.0 / h) + 0.5) * h
    rng = np.random.default_rng([seed, ord(side)])
    u = rng.random((4, n))
    hot = np.arange(n) < hot_n
    cx = np.where(hot, hot_lon + (u[0] - 0.5) * (0.9 * w), 9.0 + u[2] * 2.0)
    cy = np.where(hot, hot_lat + (u[1] - 0.5) * (0.9 * h), 44.0 + u[3] * 2.0)
    subject = np.array([f"{side}{i}" for i in range(n)], dtype=object)
    return {"subject": subject, "cx": cx, "cy": cy}


def points_table(root: str, seed: int, n: int, hot_n: int, side: str) -> str:
    path = os.path.join(root, f"points-{side}-s{seed}-n{n}-h{hot_n}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    p = skewed_points(seed, n, hot_n, side)
    t = pa.table({"subject": pa.array(p["subject"], pa.string()),
                  "cx": p["cx"], "cy": p["cy"], "xmin": p["cx"],
                  "xmax": p["cx"],
                  "geom_kind": pa.array(["POINT"] * n, pa.string())})
    step = max(1, math.ceil(n / N_FILES))
    return _publish(path, (t.slice(lo, step) for lo in range(0, n, step)))
