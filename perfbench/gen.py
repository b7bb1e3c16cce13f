"""Seeded input generator for the benchmark workloads.

Writes a ``documents.parquet`` with the same schema as the repository's
test data (``doc_id, text, lang, source, n_chars``), so
``sources.pages.build_pages`` reads it unchanged; the page text itself is
synthesized from ``doc_id`` by the program. The same seed always gives
the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# Vocabulary and language mix of the noise paragraph in the repository's
# test data (documents.parquet at every scale): lowercase filler words, so the
# paragraph contributes no entity mentions.
NOISE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
# warc_ts = 7 * doc_id minutes must fit the int cast in sources/pages.py
MAX_DOC_ID = 10**6


def zipf_domains(rng: np.random.Generator, n: int, k: int, s: float = 1.1):
    """Domain rank per page from a Zipf(s) law truncated to k domains."""
    p = 1.0 / np.arange(1, k + 1) ** s
    return rng.choice(k, size=n, p=p / p.sum())


def documents(seed: int, n_pages: int, n_domains: int) -> pd.DataFrame:
    """``n_pages`` documents over ``n_domains`` Zipf-sized domains, with
    doc_ids sampled without replacement below MAX_DOC_ID."""
    ids = np.random.default_rng(seed).permutation(MAX_DOC_ID)[:n_pages]
    rng = np.random.default_rng([seed, 0])
    lens = rng.integers(8, 90, size=n_pages)
    words = rng.integers(0, len(NOISE_WORDS), size=int(lens.sum()))
    vocab = np.array(NOISE_WORDS)
    text, at = [], 0
    for n in lens:
        text.append(" ".join(vocab[words[at:at + n]]))
        at += n
    dom = zipf_domains(rng, n_pages, n_domains)
    df = pd.DataFrame({
        "doc_id": ids.astype("int64"),
        "text": text,
        "lang": rng.choice(LANGS, size=n_pages, p=LANG_P),
        "source": [f"dom{d}" for d in dom],
    })
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df.sort_values("doc_id").reset_index(drop=True)


def write_documents(df: pd.DataFrame, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    df.to_parquet(f"{out_dir}/documents.parquet", index=False)
    return out_dir
