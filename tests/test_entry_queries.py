"""Order of the declared queries: the correctness gate checks the
first 50 keys of queries(), so the order decides what is gated."""

import __spark_entry__ as em

# the text near-dup keys whose code operators/dedup.py and
# operators/incremental_dedup.py share
TEXT_NEARDUP_KEYS = [
    "ngram_jaccard_pairs", "minhash_lsh_dedup", "simhash_candidates",
    "simhash_md5_pairs", "neardup_components", "neardup_dedup_keep",
    "incremental_dedup_keep",
]


def test_queries_order():
    keys = list(em.queries())
    canonical = list(em._queries_canonical())
    # every canonical key exactly once, nothing else
    assert len(keys) == len(set(keys))
    assert sorted(keys) == sorted(canonical)
    # the touched keys lead, inside the gated head
    assert keys[:len(TEXT_NEARDUP_KEYS)] == TEXT_NEARDUP_KEYS
    # the one no-oracle row never takes a gated slot
    assert keys[-1] == "ivf_recall"
    assert set(em.oracle_sql()) == set(keys) - {"ivf_recall"}
