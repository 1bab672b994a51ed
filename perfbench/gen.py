"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes its files with fixed parquet settings, so one seed always gives
byte-identical inputs (``selftest.py`` checks this).  The program under
test only ever sees the files; the ground truth the oracles need is
returned alongside them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY = dt.date(2024, 1, 1)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "purchase", "error")
EVENT_P = (0.85, 0.1, 0.03, 0.02)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def _write(table: pa.Table, path: str, row_group_size: int) -> None:
    # no pandas metadata, fixed compression: the bytes depend on the data only
    pq.write_table(
        table.replace_schema_metadata(None), path,
        row_group_size=row_group_size, compression="snappy",
        write_statistics=True,
    )


def day_str(i: int) -> str:
    return (EPOCH_DAY + dt.timedelta(days=i)).isoformat()


def zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) popularity over n keys, assigned to a seeded permutation
    of the keys so the hot shops are not simply the low ids."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    w /= w.sum()
    out = np.empty(n)
    out[rng.permutation(n)] = w
    return out


# -- daily_billing / table_dml ---------------------------------------------


def billing_inputs(out_dir: str, seed: int, n_shops: int, n_days: int,
                   events_per_day: int, groups_per_day: int = 4,
                   zipf_s: float = 0.8) -> dict:
    """``customer.parquet`` and ``events.parquet`` in the ``load_table``
    layout.  The events log is in time order with ``groups_per_day``
    row groups per day, the way a daily-appended log is laid out."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(n_shops, dtype=np.int64)
    customer = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n_shops).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_shops), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_shops),
    })
    _write(customer, f"{out_dir}/customer.parquet", n_shops)

    weights = zipf_weights(n_shops, zipf_s, rng)
    # equal day sizes: a day's events per second then varies with time only
    sizes = [events_per_day] * n_days
    t0 = np.datetime64(EPOCH_DAY.isoformat(), "us")
    day_us = 86_400 * 1_000_000
    ts, users, etype = [], [], []
    for d, n in enumerate(sizes):
        ts.append(t0 + d * day_us + np.sort(rng.integers(0, day_us, n)))
        users.append(rng.choice(n_shops, n, p=weights))
        etype.append(rng.choice(len(EVENT_TYPES), n, p=EVENT_P))
    ts_a = np.concatenate(ts)
    n_all = len(ts_a)
    etype_a = np.concatenate(etype)
    events = pa.table({
        "event_id": np.arange(n_all, dtype=np.int64),
        "ts": pa.array(ts_a, type=pa.timestamp("us")),
        "user_id": np.concatenate(users).astype(np.int64),
        "event_type": pa.DictionaryArray.from_arrays(
            etype_a.astype(np.int32), list(EVENT_TYPES)).cast(pa.string()),
        "value": np.round(rng.uniform(0.5, 50.0, n_all), 2),
        "props": pa.array(["{}"] * n_all),
    })
    rg = max(1, events_per_day // groups_per_day)
    _write(events, f"{out_dir}/events.parquet", rg)
    return {
        "dir": out_dir, "shops": n_shops, "days": n_days,
        "rows": n_all + n_shops,
        "bytes": sum(os.path.getsize(f"{out_dir}/{t}.parquet") for t in ("customer", "events")),
        "row_groups": pq.ParquetFile(f"{out_dir}/events.parquet").metadata.num_row_groups,
    }


def dml_batches(seed: int, n_shops: int, n_days: int, zipf_s: float = 0.8) -> list[dict]:
    """One batch per day for the ``table_dml`` workload: one usage row
    per shop, plus the seeded refunds (deleted) and corrections
    (updated) of that day."""
    rng = np.random.default_rng([seed, 3])
    weights = zipf_weights(n_shops, zipf_s, rng)
    out = []
    for d in range(n_days):
        views = rng.poisson(weights * 400_000).astype(np.int64)
        refunds = np.sort(rng.choice(n_shops, max(1, n_shops // 100), replace=False))
        rest = np.setdiff1d(np.arange(n_shops), refunds)
        fixes = np.sort(rng.choice(rest, max(1, n_shops // 50), replace=False))
        out.append({
            "day": day_str(d),
            "views": views,
            "refunds": [int(x) for x in refunds],
            "fixes": [int(x) for x in fixes],
            "fix_delta": int(rng.integers(1, 100)),
        })
    return out


# -- corpus -----------------------------------------------------------------


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, ln)))
    return sorted(words - set(STOPWORDS))


def corpus_inputs(out_dir: str, seed: int, n_base: int, n_vectors: int,
                  dim: int = 64, n_centers: int = 32) -> dict:
    """``documents.parquet`` with planted exact and near duplicates, and
    ``embeddings.parquet`` with clustered vectors.

    Ground truth: ``families`` lists the doc ids derived from one base
    document (the base first).  Exact copies differ from their base
    only in case and punctuation, so they normalize to the same text.
    Near copies change a seeded number of words of the base; a family
    can hold several near copies, so pairs between copies are planted
    too.  Base documents draw from a 4,000-word vocabulary, so two of
    them share almost no 3-word shingles."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, 4000)
    texts: list[str] = []
    families: list[list[int]] = []
    for _ in range(n_base):
        n_tok = int(rng.integers(60, 260))
        toks = list(rng.choice(vocab, n_tok))
        for i in rng.choice(n_tok, max(1, n_tok // 12), replace=False):
            toks[i] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        if rng.random() < 0.03:  # contact details for the PII redaction stage
            toks.insert(int(rng.integers(n_tok)), f"{toks[0]}@{toks[1]}.com")
        if rng.random() < 0.05:  # low quality: one word repeated
            toks = [toks[0]] * n_tok
        base_id = len(texts)
        texts.append(" ".join(toks))
        fam = [base_id]
        r = rng.random()
        if r < 0.08:
            fam.append(len(texts))
            texts.append(" ".join(t.upper() if j % 7 == 0 else t for j, t in enumerate(toks)) + " .")
        elif r < 0.26:
            for _ in range(int(rng.integers(1, 3))):
                near = list(toks)
                # few edits (Jaccard ~0.95+) or many (~0.55-0.8)
                n_ed = 1 if rng.random() < 0.5 else max(2, n_tok // int(rng.integers(12, 25)))
                for i in rng.choice(n_tok, n_ed, replace=False):
                    near[i] = vocab[int(rng.integers(len(vocab)))]
                fam.append(len(texts))
                texts.append(" ".join(near))
        if len(fam) > 1:
            families.append(fam)
    # shuffle doc ids so families are not adjacent
    perm = rng.permutation(len(texts))
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(perm))
    doc_text = [None] * len(texts)
    for old, new in enumerate(inv):
        doc_text[new] = texts[old]
    families = [sorted(int(inv[i]) for i in fam) for fam in families]
    docs = pa.table({
        "doc_id": np.arange(len(doc_text), dtype=np.int64),
        "text": doc_text,
        "lang": ["en"] * len(doc_text),
        "source": [f"src{i % 4}" for i in range(len(doc_text))],
        "n_chars": np.array([len(t) for t in doc_text], dtype=np.int64),
    })
    _write(docs, f"{out_dir}/documents.parquet", 256)

    centers = rng.normal(0, 1, (n_centers, dim))
    lab = rng.integers(0, n_centers, n_vectors)
    vec = (centers[lab] + rng.normal(0, 0.6, (n_vectors, dim))).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.reshape(-1), dim).cast(
            pa.list_(pa.float32())),
        "label": lab.astype(np.int32),
    })
    _write(emb, f"{out_dir}/embeddings.parquet", 2048)
    return {
        "dir": out_dir, "docs": len(doc_text), "vectors": n_vectors,
        "families": families, "texts": doc_text, "vecs": vec,
        "rows": len(doc_text) + n_vectors,
        "bytes": sum(os.path.getsize(f"{out_dir}/{t}.parquet")
                     for t in ("documents", "embeddings")),
    }
