"""Seeded inputs of the three workloads, and the numpy oracles that
check the engine's answers.  The same seed gives the same inputs; the
engine process only ever sees what these functions generate."""

from __future__ import annotations

import numpy as np

# serving corpus (the serve workload): SIFT-like 128-d rows in a 256-list
# IVF index.  Measured on a 4-core host: at 100k rows set-up took ~40 s of
# each ~75 s run, and the search medians fell into a fast and a slow mode
# from run to run (IQR/median 0.30-0.32 over ten seeds, wider than any
# bound a regression check can use); 25k rows keep the IVF scan the
# larger share of a search and the runs steady.
SERVE_ROWS = 25_000
SERVE_DIMS = 128
SERVE_NLIST = 256
SERVE_QUERIES = 400
QUERY_POOL = 4_000
CORPUS_SEED = 7             # the serving dataset is the same for every seed
N_TAGS = 10                 # one tag value selects 10% of the corpus
FILTERED_SHARE = 0.2
SEARCH_RATE = 50.0          # open-loop arrivals per second
BATCH_ROWS = 100            # rows per batch insert of the writer
K = 10

# spark_batch corpus
DOC_ROWS = 4_000
DOC_DIMS = 64
PLANTED_PAIRS = 100
VOCAB = 3_000
DOC_WORDS = 40
BATCH_QUERIES = 16
SRP_THRESHOLD = 0.05        # cosine distance for a near-duplicate
MINHASH_THRESHOLD = 0.6     # Jaccard of word 3-shingles

WRITE_CYCLE = ("insert", "batch_insert", "upsert", "delete_batch")
BATCH_OPS = ("ql_knn", "ql_hybrid", "analytics_agg", "minhash", "srp")
WRITE_CYCLES = 1            # writer cycles in the serve workload's mixed phase


def serve_inputs(seed: int) -> dict:
    """A fixed SIFT-like dataset (plans.ann_datasets.sift_like:
    non-negative, clustered, integer-valued) with a pool of held-out
    queries; the seed draws the run's queries from the pool and a tag per
    row.  Keeping the dataset fixed keeps the IVF cell layout, and so
    the cost of a search, the same from seed to seed."""
    from needle_spark.plans.ann_datasets import sift_like

    X, pool = sift_like(SERVE_ROWS, dims=SERVE_DIMS, n_queries=QUERY_POOL,
                        seed=CORPUS_SEED)
    rng = np.random.default_rng([seed, 7])
    Q = pool[rng.choice(QUERY_POOL, SERVE_QUERIES, replace=False)]
    tags = rng.integers(0, N_TAGS, SERVE_ROWS)
    return {"X": X.astype(np.float32), "Q": Q.astype(np.float32),
            "tags": tags, "ids": [f"v{i}" for i in range(SERVE_ROWS)]}


def search_schedule(seed: int, seconds: float, rate: float = SEARCH_RATE
                    ) -> list[dict]:
    """Poisson arrivals over `seconds`: due offset (s), query index and
    the tag filter (None for an unfiltered search)."""
    rng = np.random.default_rng(seed + 11)
    out, t = [], 0.0
    while True:
        t += rng.exponential(1.0 / rate)
        if t >= seconds:
            return out
        filtered = rng.random() < FILTERED_SHARE
        out.append({"due": t, "q": int(rng.integers(SERVE_QUERIES)),
                    "tag": int(rng.integers(N_TAGS)) if filtered else None})


def writer_rows(seed: int, cycle: int, count: int, dims: int = SERVE_DIMS
                ) -> np.ndarray:
    """Vectors the writer sends: every coordinate at most -300.  Corpus
    rows and queries lie in [0, 255]^d, so a written row is farther
    from any query (>= 300 sqrt(d)) than any two corpus points are from
    each other (<= 255 sqrt(d)): written rows never enter a query's
    exact top-10, and recall stays comparable between workloads."""
    rng = np.random.default_rng([seed, 13, cycle])
    return -(300.0 + np.rint(rng.exponential(30.0, (count, dims)))) \
        .astype(np.float32)


def write_op(seed: int, cycle: int, step: int) -> tuple[str, str, dict, dict]:
    """(op, route suffix, JSON body, expected effect) of the writer's
    `step`-th operation in `cycle`.  One cycle: insert one row, insert a
    batch, upsert the single row with a new vector, delete the batch.
    Net effect of a cycle: +1 row."""
    op = WRITE_CYCLE[step]
    single = f"w{cycle}"
    batch_ids = [f"b{cycle}_{j}" for j in range(BATCH_ROWS)]
    if op == "insert":
        v = writer_rows(seed, cycle, 1)[0]
        return op, "vectors", {"id": single, "vector": v.tolist(),
                               "metadata": {"tag": "w"}}, {"rows": 1}
    if op == "batch_insert":
        V = writer_rows(seed, cycle + 1_000_000, BATCH_ROWS)
        return op, "vectors/batch", {"vectors": [
            {"id": i, "vector": v.tolist(), "metadata": {"tag": "w"}}
            for i, v in zip(batch_ids, V)]}, {"rows": BATCH_ROWS}
    if op == "upsert":
        v = writer_rows(seed, cycle + 2_000_000, 1)[0]
        return op, "vectors/upsert", {"id": single, "vector": v.tolist(),
                                      "metadata": {"tag": "w2"}}, {"rows": 0}
    return op, "vectors/delete-batch", {"ids": batch_ids}, \
        {"rows": -BATCH_ROWS}


def exact_kth_l2(X: np.ndarray, Q: np.ndarray, tags: np.ndarray,
                 keys, k: int = K, chunk: int = 32) -> dict:
    """Exact L2 distance of the k-th nearest row for each (query index,
    tag or None) in `keys`; a tag restricts the rows to that tag.  The
    squared distances come from one float64 product per chunk of
    queries; on integer-valued data (SIFT-like) every term is an integer
    below 2**53, so they are exact."""
    Xd = X.astype(np.float64)
    xx = (Xd * Xd).sum(axis=1)
    by_q: dict[int, list] = {}
    for q, tag in keys:
        by_q.setdefault(q, []).append(tag)
    qs = sorted(by_q)
    out = {}
    for i in range(0, len(qs), chunk):
        part = qs[i:i + chunk]
        Qd = Q[part].astype(np.float64)
        D2 = xx[None, :] - 2.0 * (Qd @ Xd.T) + (Qd * Qd).sum(axis=1)[:, None]
        for row, q in zip(D2, part):
            for tag in by_q[q]:
                d = row if tag is None else row[tags == tag]
                kth = np.partition(d, k - 1)[k - 1]
                out[(q, tag)] = float(np.sqrt(max(kth, 0.0)))
    return out


def recall_by_distance(X: np.ndarray, id_to_row: dict, q: np.ndarray,
                       returned_ids: list, kth: float, k: int = K) -> float:
    """Share of the k slots filled with a row at most as far as the true
    k-th neighbour (ann-benchmarks' definition: integer-valued data has
    exact distance ties, so id equality would under-count)."""
    hits = 0
    for rid in returned_ids[:k]:
        row = id_to_row.get(rid)
        if row is None:
            continue
        d = float(np.sqrt(((X[row].astype(np.float64)
                            - q.astype(np.float64)) ** 2).sum()))
        if d <= kth * (1 + 1e-9) + 1e-9:
            hits += 1
    return hits / k


def batch_inputs(seed: int) -> dict:
    """Corpus for spark_batch: Gaussian unit-free vectors (random pairs
    sit near cosine distance 1), word texts, a tag and a price per row,
    plus PLANTED_PAIRS near-duplicate twins (vector + 1% noise, text
    with one word replaced)."""
    rng = np.random.default_rng([seed, 21])
    n = DOC_ROWS
    V = rng.standard_normal((n, DOC_DIMS)).astype(np.float32)
    words = rng.integers(0, VOCAB, (n, DOC_WORDS))
    src = rng.choice(n, PLANTED_PAIRS, replace=False)
    twins_v = V[src] + 0.01 * np.linalg.norm(V[src], axis=1, keepdims=True) \
        * rng.standard_normal((PLANTED_PAIRS, DOC_DIMS)).astype(np.float32) \
        / np.sqrt(DOC_DIMS)
    twins_w = words[src].copy()
    twins_w[np.arange(PLANTED_PAIRS),
            rng.integers(0, DOC_WORDS, PLANTED_PAIRS)] = VOCAB + 1
    V = np.vstack([V, twins_v.astype(np.float32)])
    words = np.vstack([words, twins_w])
    total = n + PLANTED_PAIRS
    ids = [f"d{i}" for i in range(total)]
    texts = [" ".join(f"w{w}" for w in row) for row in words]
    tags = [f"t{t}" for t in rng.integers(0, N_TAGS, total)]
    price = rng.random(total)
    planted = [tuple(sorted((ids[s], ids[n + i]))) for i, s in enumerate(src)]
    queries = rng.standard_normal((BATCH_QUERIES, DOC_DIMS)).astype(np.float32)
    terms = [" ".join(f"w{w}" for w in rng.integers(0, VOCAB, 3))
             for _ in range(BATCH_QUERIES)]
    qtags = [f"t{t}" for t in rng.integers(0, N_TAGS, BATCH_QUERIES)]
    return {"V": V, "ids": ids, "texts": texts, "tags": tags, "price": price,
            "planted": planted, "queries": queries, "terms": terms,
            "qtags": qtags}


def cosine_distances(V: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Exact (float64) cosine distance of every row of V to q."""
    Vd = V.astype(np.float64)
    qd = q.astype(np.float64)
    return 1.0 - (Vd @ qd) / (np.linalg.norm(Vd, axis=1) * np.linalg.norm(qd))
