"""Replicate the reference's published NDCG@3 table (README.md:50-57)
with the engine over /root/reference/index/url.list.utf8.

Run: python scripts/ndcg_reference.py [out_base_dir]
Prints one JSON line per config row + writes nothing outside out_base.
See tiny_search_engine_spark/reference_eval.py for the methodology and
the tokenizer caveat (jieba dict blobs absent -> cilin DictSearch
tokenizer stand-in)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tiny_search_engine_spark import reference_eval as re_
from tiny_search_engine_spark.session import get_spark


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/tmp/tse_ndcg_ref"
    spark = get_spark(app_name="ndcg_reference")
    store_stop = re_.build_reference_store(
        spark, os.path.join(base, "store_stop"), use_stopwords=True
    )
    store_nostop = re_.build_reference_store(
        spark, os.path.join(base, "store_nostop"), use_stopwords=False
    )
    qs = re_.reference_queries(spark)
    labels = re_.reference_labels(spark, qs).cache()
    labels.count()
    rows = [
        # (name, published, store, ranker, synonyms)
        ("V0.1 cqr*ctr", 72.08, store_nostop, "coverage", False),
        ("v0.3 cqr*ctr+stop", 73.58, store_stop, "coverage", False),
        ("v0.6 vsm+stop", 73.89, store_stop, "vsm", False),
        ("v0.7 cqr*ctr+stop+syn", 77.94, store_stop, "coverage", True),
    ]
    for name, pub, store, ranker, syn in rows:
        t0 = time.time()
        m, n = re_.engine_ndcg3(spark, store, qs, labels, ranker=ranker, use_synonyms=syn)
        print(
            json.dumps(
                {
                    "config": name,
                    "published_ndcg3": pub,
                    "engine_ndcg3": round(m, 2),
                    "n_queries": n,
                    "seconds": round(time.time() - t0, 1),
                },
                ensure_ascii=False,
            ),
            flush=True,
        )
    # the unpublished '#ifdef XGBOOST on' configuration: shipped LTR model
    # as final ranker (engine_ndcg3_ltr docstring for the caveat)
    t0 = time.time()
    m, n = re_.engine_ndcg3_ltr(spark, store_stop, qs, labels)
    print(
        json.dumps(
            {
                "config": "xgb LTR rerank (shipped model) + stop",
                "published_ndcg3": None,
                "engine_ndcg3": round(m, 2),
                "n_queries": n,
                "seconds": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
