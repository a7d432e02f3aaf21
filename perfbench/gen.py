"""Seeded input generator for the flagship benchmark.

Every workload's inputs derive from ``(corpus, seed)`` alone: the same seed
gives byte-identical files, another seed gives different ones (checked by
``python3 perfbench/selfcheck.py``).  A corpus is a directory holding

- ``pages.parquet/part-000NN.parquet`` — pages in the ``input_hint`` schema
  ``(url, warc_ts, html, text, lang)``, split over ``N_FILES`` files so the
  scan splits with no repartition shuffle;
- ``region_rings.parquet`` — the region store in the ``region_rings``
  layout (``synth.regions_frames``);
- ``truth.npy`` — the generated ``(lat, lon)`` of every page, NaN where
  the page carries no valid ``geo:`` token; the correctness checks use it.

Generation is untimed and cached per ``(corpus, seed)`` under
``perfbench/.cache``, keyed also by the bytes of this file and of the
engine modules it draws on (``data/synth.py``, ``geom/kernels.py``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pandas as pd

from libosmtools_spark.data import synth
from libosmtools_spark.geom import kernels as K

N_FILES = 4
HOTSPOTS = ((48.2, 11.4), (17.5, 17.5), (-20.0, 50.0))

#: corpus name → shape.  ``pages``: page count; ``store``: which region
#: store; ``text``: "crawl" (~2 KB web-like text, 30% without a geo:
#: token, 1% garbled) or "short" (~90 B, every page geocoded).
CORPORA = {
    "crawl": {"pages": 30_000, "store": "golden", "text": "crawl"},
    "stack": {"pages": 120_000, "store": "stack", "text": "short"},
}

#: workload → corpus it reads
WORKLOAD_CORPUS = {
    "crawl_text": "crawl",
    "boundary_stack": "stack",
}

CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


def star_specs(n_regions: int, n_vertices: int, rng: np.random.Generator) -> list:
    """Seeded star polygons stacked over the three point hotspots (the
    shape of ``synth.scaling_region_spec``, drawn from ``rng``): every
    third region shares a hotspot, so a hotspot point lies in about a
    third of the store."""
    specs = []
    ang = np.linspace(0, 2 * np.pi, n_vertices, endpoint=False)
    for rid in range(n_regions):
        h = HOTSPOTS[rid % len(HOTSPOTS)]
        clat = h[0] + float(rng.uniform(-0.3, 0.3))
        clon = h[1] + float(rng.uniform(-0.3, 0.3))
        rad = 1.5 + 0.7 * np.sin(ang * 7 + rid) + rng.uniform(-0.1, 0.1, n_vertices)
        ring = np.stack([clat + rad * np.sin(ang), clon + rad * np.cos(ang)], axis=1)
        ring = K.snap(np.vstack([ring, ring[:1]]))
        specs.append(
            {
                "region_id": rid,
                "name": f"star{rid}",
                "rings": [("outer", ring)],
                "tags": {"name": f"star{rid}", "boundary": "administrative"},
            }
        )
    return specs


def store_specs(store: str) -> list:
    """The region stores are fixed (seeded with constants, like
    ``synth.scaling_region_spec``): the workload seed varies the pages, so
    the geometry work per page stays the same from seed to seed."""
    if store == "golden":
        return synth.region_spec()
    if store == "stack":
        return star_specs(45, 200, np.random.default_rng(synth.SEED + 1))
    raise ValueError(f"unknown store {store!r}")


def stack_points(n: int, rng: np.random.Generator):
    """Points spread sigma=1.2 deg around the hotspots, 10% uniform."""
    hot = np.array(HOTSPOTS)
    which = rng.integers(0, len(hot), size=n)
    la = hot[which, 0] + rng.normal(0, 1.2, size=n)
    lo = hot[which, 1] + rng.normal(0, 1.2, size=n)
    wide = rng.random(n) < 0.1
    la[wide] = rng.uniform(-85, 85, size=int(wide.sum()))
    lo[wide] = rng.uniform(-179, 179, size=int(wide.sum()))
    return K.snap(np.clip(la, -89.999999, 89.999999)), K.snap(K.norm_lon(lo))


#: one fixed vocabulary for every seed: seeds vary which words a page
#: holds, never the corpus's character statistics (which set the RE2 and
#: parquet costs)
_VOCAB_SEED = 20240611


def _filler(rng: np.random.Generator, n_chars: int) -> str:
    """A web-like word stream: Zipf-distributed draws from a fixed random
    lowercase vocabulary (no ':' anywhere, so no accidental geo: token)."""
    vrng = np.random.default_rng(_VOCAB_SEED)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(vrng.choice(letters, size=k)) for k in vrng.integers(2, 11, size=5000)]
    n_words = n_chars // 6 + 1
    idx = np.minimum(rng.zipf(1.3, size=n_words) - 1, len(vocab) - 1)
    return " ".join(vocab[i] for i in idx)[:n_chars]


def _crawl_texts(n: int, lats, lons, rng: np.random.Generator):
    """~2 KB texts; 30% carry no geo: token, 1% a garbled one.  Returns
    (texts, has_valid_token)."""
    buf = _filler(rng, 4_000_000)
    kind = rng.random(n)
    no_tok = kind < 0.30
    garbled = (kind >= 0.30) & (kind < 0.31)
    pre = rng.integers(200, 1800, size=n)
    post = rng.integers(200, 1800, size=n)
    off1 = rng.integers(0, len(buf) - 2000, size=n)
    off2 = rng.integers(0, len(buf) - 2000, size=n)
    # garbled forms: 5 fraction digits, letters, missing longitude
    garble = [
        lambda a, o: f"geo:{a:.5f},{o:.5f}",
        lambda a, o: f"geo:lat{a:.6f},lon{o:.6f}",
        lambda a, o: f"geo:{a:.6f}",
    ]
    texts = []
    for i in range(n):
        if no_tok[i]:
            tok = " "
        elif garbled[i]:
            tok = f" {garble[i % 3](lats[i], lons[i])} "
        else:
            tok = f" geo:{lats[i]:.6f},{lons[i]:.6f} "
        texts.append(buf[off1[i] : off1[i] + pre[i]] + tok + buf[off2[i] : off2[i] + post[i]])
    return texts, ~(no_tok | garbled)


def corpus_frames(corpus: str, seed: int):
    """→ (pages pdf, region_rings pdf, truth float64[n, 2])."""
    shape = CORPORA[corpus]
    rng = np.random.default_rng([seed, sorted(CORPORA).index(corpus)])
    specs = store_specs(shape["store"])
    n = shape["pages"]
    if shape["store"] == "stack":
        lats, lons = stack_points(n, rng)
    else:
        lats, lons = synth.gen_points(n, rng)
    i = np.arange(n)
    if shape["text"] == "crawl":
        texts, valid = _crawl_texts(n, lats, lons, rng)
    else:
        texts = [
            f"page {j} of crawl corpus. location geo:{a:.6f},{o:.6f} end. filler {j % 17}."
            for j, a, o in zip(i, lats, lons)
        ]
        valid = np.ones(n, dtype=bool)
    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    pages = pd.DataFrame(
        {
            "url": [f"https://site{j % 997}.example/{corpus}/p/{j}" for j in i],
            "warc_ts": [base + dt.timedelta(seconds=int(j) * 37) for j in i],
            "html": [f"<html><body><p>{t}</p></body></html>".encode() for t in texts],
            "text": texts,
            "lang": np.array(["en", "de", "fr", "es", "pt"])[i % 5],
        }
    )
    truth = np.stack([np.where(valid, lats, np.nan), np.where(valid, lons, np.nan)], axis=1)
    _, rings = synth.regions_frames(specs)
    return pages, rings, truth


def write_corpus(corpus: str, seed: int, out: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages, rings, truth = corpus_frames(corpus, seed)
    pdir = os.path.join(out, "pages.parquet")
    os.makedirs(pdir)
    bounds = np.linspace(0, len(pages), N_FILES + 1).astype(int)
    for f in range(N_FILES):
        part = pages.iloc[bounds[f] : bounds[f + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(pdir, f"part-{f:05d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    pq.write_table(
        pa.Table.from_pandas(rings, preserve_index=False),
        os.path.join(out, "region_rings.parquet"),
    )
    np.save(os.path.join(out, "truth.npy"), truth)
    return out


def ensure_corpus(corpus: str, seed: int, root: str = CACHE_ROOT) -> str:
    """Directory of the cached ``(corpus, seed)`` inputs, generating them
    on first use (written to a temporary sibling, then renamed)."""
    h = hashlib.sha256()
    for src in (__file__, synth.__file__, K.__file__):  # any generator edit
        with open(src, "rb") as f:
            h.update(f.read())
    version = h.hexdigest()[:8]
    final = os.path.join(root, f"{corpus}-{version}-{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        write_corpus(corpus, seed, tmp)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def digest(path: str) -> str:
    """sha256 over every file's relative name and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
