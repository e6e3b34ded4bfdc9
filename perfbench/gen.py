"""Seeded input generator for the workload benchmark.

The same ``--seed`` and ``--size`` always give byte-identical files. The
distributions follow ``tools/gen_sf.py`` (word vocabulary, document
length profile, clustered 64-dim embeddings) plus the properties each
workload's behaviour depends on:

* ``posts/``: one raw scrape batch per day. Each batch mixes job and
  non-job titles, rescrapes of the same post (same title, later
  ``scrape_seq``), title edits of the previous day's newest posts (they
  sit exactly on the watermark, so the job admits them as updates) and
  edits of older posts (below the watermark, so the job drops them).
  Within one batch a ``post_id`` carries one title.
* ``corpus/``: documents plus near-duplicate chains. A share
  ``dup_rate`` of base documents roots a chain of ``chain_depth`` copies;
  each copy edits one word of its predecessor, so neighbours in a chain
  are near-duplicates while the chain ends drift apart (copy-of-copy).
  Every document has a clustered 64-dim embedding (the ``embeddings``
  table layout).

Usage: python3 perfbench/gen.py --seed N --out DIR [--size bench|tiny]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # posts_daily: days per pass, new posts per day, share of new posts
    # rescraped, newest-post group that shares the day's last timestamp,
    # edits of that group next day, edits of older (stale) posts per day.
    # corpus_index: base documents, share rooting a near-dup chain, copies
    # per chain, micro-batches of the index ingest.
    #
    # ``bench`` sizes come from no traffic data. The corpus matches
    # ``tools/gen_sf.py`` at sf0.1 (5,000 documents; 3,450 base documents
    # plus 517 chains of 3 copies give 5,001). A posts day is a twentieth
    # of a 200k-row daily batch: the run budget leaves no room for more,
    # and a cold pass is mostly fixed JIT and planning cost (README.md
    # gives the share of a pass's CPU time that grows with input rows).
    "bench": {
        "days": 3, "posts_per_day": 10000, "rescrape_rate": 0.2,
        "boundary_group": 24, "boundary_edits": 12, "stale_edits": 1000,
        "docs": 3450, "dup_rate": 0.15, "chain_depth": 3,
        "micro_batches": 2,
    },
    "tiny": {
        "days": 3, "posts_per_day": 200, "rescrape_rate": 0.2,
        "boundary_group": 6, "boundary_edits": 3, "stale_edits": 10,
        "docs": 200, "dup_rate": 0.15, "chain_depth": 3,
        "micro_batches": 2,
    },
}

WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
HIRING = ["Hiring", "We are hiring a", "Job opening:", "Open position:", "Career opportunity -"]
ROLES = [
    "Data Engineer", "Machine Learning Engineer", "Software Engineer", "Backend Engineer",
    "Data Scientist", "Research Scientist", "DevOps Engineer", "Analyst", "Developer",
    "Architect", "Manager", "Consultant",
]
PLACES = ["Remote", "Hybrid", "London", "Berlin", "New York", "Zurich", "Toronto", "Gdansk", "US", "Germany"]
FIELDS = ["Data Science", "Machine Learning", "NLP", "Big Data", "Cloud Computing", "Analytics", "DevOps"]
TECH = ["python", "java", "sql", "scala", "aws", "docker", "kubernetes", "spark", "pytorch", "go", "rust"]
CURRENCIES = ["usd ", "$", "£", "€", "eur ", ""]
CHATTER = [
    "Question about {}", "Looking for advice on {}", "open discussion: {} megathread",
    "feedback on my {} resume", "meta: rules for {} posts", "What does a {} do all day",
]
DAY0 = dt.datetime(2024, 3, 1)
DAY_S = 86400


def _salary(rng: np.random.Generator) -> str:
    lo = int(rng.integers(40, 150))
    hi = lo + int(rng.integers(5, 60))
    cur = CURRENCIES[rng.integers(len(CURRENCIES))]
    return f"{cur}{lo}k - {hi}k"


def _title(rng: np.random.Generator) -> str:
    if rng.random() < 0.35:
        topic = ROLES[rng.integers(len(ROLES))].lower()
        return CHATTER[rng.integers(len(CHATTER))].format(topic)
    parts = [HIRING[rng.integers(len(HIRING))], ROLES[rng.integers(len(ROLES))]]
    if rng.random() < 0.6:
        parts.append(_salary(rng))
    if rng.random() < 0.7:
        parts.append(PLACES[rng.integers(len(PLACES))])
    if rng.random() < 0.5:
        parts.append(FIELDS[rng.integers(len(FIELDS))])
    parts.extend(TECH[i] for i in rng.choice(len(TECH), int(rng.integers(0, 4)), replace=False))
    return " ".join(parts)


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def gen_posts(out: str, rng: np.random.Generator, s: dict) -> list[dict]:
    """Day batches ``posts/day_NN.parquet``; returns the per-day manifest
    (file, run time ``now``, raw row count)."""
    ts_type = pa.timestamp("us", tz="UTC")
    days = []
    history: list[tuple[str, dt.datetime]] = []  # (post_id, created) of earlier days
    boundary: list[tuple[str, dt.datetime]] = []
    seq = 0
    next_id = 0
    for d in range(s["days"]):
        start = DAY0 + dt.timedelta(days=d)
        n = s["posts_per_day"]
        secs = np.sort(rng.integers(0, DAY_S - 60, n))
        # the day's newest posts share its last second: they define the
        # next run's watermark, so edits of them are admitted as updates
        secs[-s["boundary_group"]:] = DAY_S - 1
        rows = []
        for sec in secs:
            rows.append((f"t3_{next_id:07d}", _title(rng), start + dt.timedelta(seconds=int(sec))))
            next_id += 1
        batch = list(rows)
        for i in rng.choice(n, int(n * s["rescrape_rate"]), replace=False):
            batch.append(rows[i])
        if d > 0:
            for i in rng.choice(len(boundary), s["boundary_edits"], replace=False):
                p, c = boundary[i]
                batch.append((p, _title(rng) + " (edited)", c))
            for i in rng.choice(len(history), s["stale_edits"], replace=False):
                p, c = history[i]
                batch.append((p, _title(rng) + " (stale)", c))
        # the previous boundary group is now below the watermark; today's
        # stays out of ``history`` so no post gets two edits in one batch
        history.extend(boundary)
        history.extend((p, c) for p, _, c in rows[: -s["boundary_group"]])
        boundary = [(p, c) for p, _, c in rows[-s["boundary_group"]:]]
        order = rng.permutation(len(batch))
        post_id, title, created, scrape_seq = [], [], [], []
        for i in order:
            p, t, c = batch[i]
            post_id.append(p)
            title.append(t)
            created.append(c.replace(tzinfo=dt.timezone.utc))
            scrape_seq.append(seq)
            seq += 1
        name = f"day_{d:02d}.parquet"
        _write(os.path.join(out, "posts", name), pa.table({
            "post_id": pa.array(post_id, pa.string()),
            "title": pa.array(title, pa.string()),
            "created_datetime": pa.array(created, ts_type),
            "scrape_seq": pa.array(scrape_seq, pa.int64()),
        }))
        now = start + dt.timedelta(days=1, minutes=5)
        days.append({"file": name, "now": now.isoformat(), "rows": len(batch)})
    return days


def _docs(rng: np.random.Generator, n: int, lo: int = 20, hi: int = 61) -> list[list[str]]:
    vocab = np.array(WORDS)
    return [list(vocab[rng.integers(0, len(vocab), int(ln))]) for ln in rng.integers(lo, hi, n)]


def _emb_table(ids, emb, labels) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def gen_corpus(out: str, rng: np.random.Generator, s: dict) -> int:
    """``corpus/documents`` (id, text), ``corpus/embeddings`` (one vector
    per document: a copy's vector is its predecessor's plus a little
    noise); returns the document count."""
    base = _docs(rng, s["docs"])
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = list(rng.integers(0, len(centers), len(base)))
    vecs = list(centers[labels] + rng.normal(0.0, 0.5, (len(base), 64)))
    texts = [" ".join(w) for w in base]
    for r in rng.choice(len(base), int(len(base) * s["dup_rate"]), replace=False):
        words, vec = list(base[r]), vecs[r]
        for _ in range(s["chain_depth"]):
            words = list(words)
            words[int(rng.integers(len(words)))] = WORDS[int(rng.integers(len(WORDS)))] + "x"
            vec = vec + rng.normal(0.0, 0.05, 64)
            texts.append(" ".join(words))
            vecs.append(vec)
            labels.append(labels[r])
    n = len(texts)
    order = rng.permutation(n)
    _write(os.path.join(out, "corpus", "documents.parquet"), pa.table({
        "id": pa.array(order, pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
    }))
    _write(os.path.join(out, "corpus", "embeddings.parquet"),
           _emb_table(np.arange(n), np.array(vecs, np.float32), labels))
    return n


def gen_oracle_dir(out: str, seed: int, docs: int = 120, vectors: int = 200) -> None:
    """Testdata-layout ``documents`` (doc_id, text, lang, source, n_chars)
    and ``embeddings`` under ``out``, small enough for the registry's
    DuckDB oracles (the self-tests run registered queries on it)."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(w) for w in _docs(rng, docs, 10, 41)]
    for src, dst in rng.integers(0, docs, (max(1, docs // 50), 2)):
        texts[dst] = texts[src]
    _write(os.path.join(out, "documents.parquet"), pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    labels = rng.integers(0, 10, vectors)
    emb = rng.normal(0.0, 1.0, (10, 64))[labels] + rng.normal(0.0, 0.5, (vectors, 64))
    _write(os.path.join(out, "embeddings.parquet"),
           _emb_table(np.arange(vectors), emb.astype(np.float32), labels))


def generate(out: str, seed: int, size: str = "bench", parts: tuple[str, ...] = ("posts", "corpus")) -> dict:
    """Write the inputs of ``parts`` (``posts``, ``corpus``) under
    ``out``; returns the manifest (also written to ``out/manifest.json``)."""
    s = SIZES[size]
    # one child stream per input family: a family's bytes depend only on
    # the seed and its own sizes, whichever other families are written
    rp, rc = (np.random.default_rng(x) for x in np.random.SeedSequence(seed).spawn(2))
    manifest = {"seed": seed, "size": size, "sizes": s}
    if "posts" in parts:
        manifest["days"] = gen_posts(out, rp, s)
    if "corpus" in parts:
        manifest["documents"] = gen_corpus(out, rc, s)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    a = ap.parse_args()
    m = generate(a.out, a.seed, a.size)
    print(json.dumps({"out": a.out, "seed": m["seed"], "documents": m["documents"],
                      "posts_rows": sum(d["rows"] for d in m["days"])}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
