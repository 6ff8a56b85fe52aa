"""Seeded input generator for the benchmark workloads.

The same ``--seed`` gives byte-identical inputs. Shapes and value
distributions follow the engine's test warehouse (TESTDATA.md):
natural-text documents over a 30-word vocabulary with ~5%
near-duplicates (a copy plus one extra token), unit-norm 64-d
embeddings in 10 weak clusters, and events over 30 days and 1,500
users. Each table is one parquet file with a single row group, like
the warehouse tables.

The rows' content comes from a fixed stream, so every seed asks the
engine for the same amount of work; the seed sets what a run varies:
row order and id assignment (so the ANN query ids ``vec_id < 5`` and
the dedup corpus/batch split land on different rows), the DML key
ranges and batches, and how the stream inputs are cut into files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_USERS = 1500
DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
CONTENT_SEED = 20240101


def _rngs(seed: int, tag: int) -> tuple[np.random.Generator, np.random.Generator]:
    """(content stream shared by every seed, this seed's own stream)."""
    return np.random.default_rng([CONTENT_SEED, tag]), np.random.default_rng([seed, tag])


def write_table(table: pa.Table, path: str) -> int:
    """Write one single-row-group parquet file; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return os.path.getsize(path)


def documents(rng: np.random.Generator, order: np.random.Generator, n: int) -> pa.Table:
    """Documents of 10-100 vocabulary words, ids assigned in an order
    drawn from ``order``. About 5% copy an earlier document and append
    ``dup`` (near-duplicates at Jaccard ~0.97) and 0.2% are verbatim
    copies (exact duplicates)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(i))])
        else:
            words = rng.choice(len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    perm = order.permutation(n)
    texts = [texts[j] for j in perm]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs[perm].tolist(),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(
    rng: np.random.Generator, order: np.random.Generator, n: int, dim: int = 64
) -> pa.Table:
    """Unit vectors around 10 label centroids; 2% are near-copies of
    another vector (cosine > 0.99), so semantic dedup has work."""
    centroids = rng.normal(size=(10, dim)) * 0.15
    labels = rng.integers(0, 10, size=n)
    vecs = rng.normal(size=(n, dim)) + centroids[labels]
    near = np.nonzero(rng.random(n) < 0.02)[0]
    src = rng.integers(0, n, size=len(near))
    vecs[near] = vecs[src] + rng.normal(size=(len(near), dim)) * 0.01
    labels[near] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    perm = order.permutation(n)
    vecs, labels = vecs[perm].astype(np.float32), labels[perm]
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """Events in time order over 30 days. ``value`` holds whole numbers
    so every sum is exact in double precision and the DuckDB replay can
    be compared without a tolerance."""
    ts = np.sort(rng.integers(T0_US, T0_US + 30 * DAY_US, size=n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, size=n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=n).tolist(),
            "value": np.floor(rng.exponential(50.0, size=n)),
        }
    )


def split_files(
    rng: np.random.Generator, table: pa.Table, n_files: int, out_dir: str
) -> int:
    """Cut ``table`` into ``n_files`` contiguous files of seeded sizes
    (Dirichlet shares, so no file is empty). Returns the bytes written."""
    shares = rng.dirichlet(np.full(n_files, 4.0))
    bounds = np.concatenate([[0], np.cumsum(shares)]) * table.num_rows
    bounds = bounds.astype(np.int64)
    bounds[-1] = table.num_rows
    total = 0
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        total += write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return total


def curation(seed: int, data_dir: str) -> dict:
    """documents + embeddings for the registry's curation operators."""
    content, rng = _rngs(seed, 1)
    sizes = {
        "documents": write_table(
            documents(content, rng, 2500), f"{data_dir}/documents.parquet"
        ),
        "embeddings": write_table(
            embeddings(content, rng, 1000), f"{data_dir}/embeddings.parquet"
        ),
    }
    return {"bytes": sizes}


def ingest(seed: int, data_dir: str) -> dict:
    """Batches for the ingest pass. Returns the plan (key ranges and
    byte counts) the pass and its DuckDB replay both follow."""
    content, rng = _rngs(seed, 2)
    cols = ["event_id", "user_id", "event_type", "value"]
    all_events = events(content, 100_000)
    perm = rng.permutation(all_events.num_rows)
    base = all_events.take(perm[:60_000]).select(cols)
    extra = all_events.take(perm[60_000:]).select(cols)
    nbytes = {
        "table_base": write_table(base, f"{data_dir}/table_base.parquet"),
        "table_append": write_table(extra, f"{data_dir}/table_append.parquet"),
    }
    del_lo = int(rng.integers(0, N_USERS - 10))
    upd_lo = int(rng.integers(0, N_USERS - 5))
    # MERGE source: every event of five users rewritten, plus as many
    # brand-new keys
    both = pa.concat_tables([base, extra])
    uid = both.column("user_id").to_numpy()
    upd = both.filter(pa.array((uid >= upd_lo) & (uid < upd_lo + 5)))
    upd = pa.table(
        {
            "event_id": upd.column("event_id"),
            "user_id": upd.column("user_id"),
            "event_type": pa.array(["merged"] * upd.num_rows),
            "value": pa.array(upd.column("value").to_numpy() * 2),
        }
    )
    ins = pa.table(
        {
            "event_id": upd.column("event_id").to_numpy() + 100_000_000,
            "user_id": upd.column("user_id").to_numpy() + N_USERS,
            "event_type": pa.array(["inserted"] * upd.num_rows),
            "value": upd.column("value"),
        }
    )
    nbytes["merge_source"] = write_table(
        pa.concat_tables([upd, ins]), f"{data_dir}/merge_source.parquet"
    )
    nbytes["stream_events"] = split_files(
        rng, events(content, 50_000), 3, f"{data_dir}/stream_events"
    )
    # two CDC files: the first micro-batch creates the table, the second
    # merges into it
    cdc = events(content, 10_000)
    nbytes["cdc_events"] = split_files(rng, cdc, 2, f"{data_dir}/cdc_events")
    # dedup index: the even doc ids are the corpus, a seeded quarter of
    # them arriving by append instead of the initial save; the odd ids
    # are the batch that probes the index
    docs = documents(content, rng, 2500)
    ids = docs.column("doc_id").to_numpy()
    appended = np.zeros(len(ids), dtype=bool)
    even = ids[ids % 2 == 0]
    appended[rng.choice(even, size=len(even) // 4, replace=False)] = True
    corpus = ids % 2 == 0
    for name, mask in (
        ("dedup_save", corpus & ~appended),
        ("dedup_append", corpus & appended),
        ("dedup_probe", ~corpus),
    ):
        nbytes[name] = write_table(
            docs.filter(pa.array(mask)), f"{data_dir}/{name}.parquet"
        )
    plan = {
        "delete_user_range": [del_lo, del_lo + 9],
        "update_user_range": [upd_lo, upd_lo + 4],
        "user_bytes": nbytes,
    }
    return plan


GENERATORS = {"curation": curation, "ingest": ingest}
