"""VERDICT r4 ask #6: one recorded MP/MIX-granularity NDCG experiment.

The replication's v0.7 row (synonyms on) never reproduced the published
+4.4 NDCG@3 gain — credible cause: synonym hits need jieba-granularity
segmentation and the jieba dict blobs are absent from the reference
checkout, so the stand-in search-mode tokenizer splits differently. The
one untried variable: segmentation GRANULARITY. This script reruns the
cqr*ctr+stop config with dict MP segmentation (longest-match only, no
2/3-char sub-word enrichment — jieba MP/MIX-style coarse segments) with
and without synonyms, next to the search-mode pair, so the synonym DELTA
under each granularity is the recorded result.

Run: python scripts/ndcg_mp_experiment.py [out_base_dir]
Prints one JSON line per row; record the numbers in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tiny_search_engine_spark import reference_eval as re_
from tiny_search_engine_spark.session import get_spark


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/tmp/tse_ndcg_mp"
    spark = get_spark(app_name="ndcg_mp_experiment")
    store_search = re_.build_reference_store(
        spark, os.path.join(base, "store_search"), use_stopwords=True
    )
    store_mp = re_.build_reference_store(
        spark, os.path.join(base, "store_mp"), use_stopwords=True, seg_mode="mp"
    )
    qs = re_.reference_queries(spark)
    labels = re_.reference_labels(spark, qs).cache()
    labels.count()
    rows = [
        ("search-mode cqr*ctr+stop", store_search, False),
        ("search-mode cqr*ctr+stop+syn", store_search, True),
        ("MP-mode cqr*ctr+stop", store_mp, False),
        ("MP-mode cqr*ctr+stop+syn", store_mp, True),
    ]
    results = {}
    for name, store, syn in rows:
        t0 = time.time()
        m, n = re_.engine_ndcg3(
            spark, store, qs, labels, ranker="coverage", use_synonyms=syn
        )
        results[name] = round(m, 2)
        print(
            json.dumps(
                {
                    "config": name,
                    "engine_ndcg3": round(m, 2),
                    "n_queries": n,
                    "seconds": round(time.time() - t0, 1),
                },
                ensure_ascii=False,
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "synonym_delta_search_mode": round(
                    results["search-mode cqr*ctr+stop+syn"]
                    - results["search-mode cqr*ctr+stop"], 2
                ),
                "synonym_delta_mp_mode": round(
                    results["MP-mode cqr*ctr+stop+syn"]
                    - results["MP-mode cqr*ctr+stop"], 2
                ),
                "published_synonym_delta": 4.36,  # README.md:56-57 (73.58 -> 77.94)
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
