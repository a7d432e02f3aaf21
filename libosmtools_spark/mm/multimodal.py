"""Multimodal column plumbing (training-data extension).

Images/audio/video are opaque ``binary`` columns with typed metadata.  The
Spark-side machinery — the media schema, Arrow batch shapes,
partition-aware mapInPandas — is real and tested.  No codec is installed
here, so features come from a documented deterministic stub: the pipeline
stays shape-testable, and a real decoder slots in where ``_decode_stub`` is
called.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha256 string, "
    "feat array<float>, ok boolean"
)


def _decode_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake 'decode': derives an 8-float feature vector from
    the payload's sha256 — keeps the pipeline's shape/type contracts
    testable without codecs."""
    h = hashlib.sha256(payload).digest()
    return (np.frombuffer(h[:32], dtype=np.uint32).astype(np.float32) / np.float32(2**32))[:8]


def extract_features(media: DataFrame) -> DataFrame:
    """binary payloads → per-item feature rows via mapInPandas (Arrow
    batches; one partition per task — the shape a real decoder needs:
    batch-local, no driver involvement).  ``media`` carries ``media_id``,
    ``kind`` and a binary ``payload``; a NULL payload comes back
    ``ok=False`` with no feature."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ok, nb, digests = [], [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    ok.append(False)
                    nb.append(0)
                    digests.append(None)
                    continue
                b = bytes(payload)
                nb.append(len(b))
                digests.append(hashlib.sha256(b).hexdigest())
                feats.append([float(x) for x in _decode_stub(b)])
                ok.append(True)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": nb,
                    "sha256": digests,
                    "feat": feats,
                    "ok": ok,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)
