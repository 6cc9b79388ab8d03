"""Hint-validation probe: do the r11 measured fan-out hints reproduce the
hand-tuned shuffle-partition winners at 1000x corpus volume?

For each newly-hinted wide shape (dedup_ngram_jaccard, dedup_simhash,
text_unigram_rarity) run on the 1000x documents synth
(tools/scale_probe.py --tier documents --replicas 1000):

  hinted   — hands-free: the registry hint resolves the count
  manual N — build the query, then set the conf to N, then run it

and report each wall plus the hinted pick's ratio to the sweep's best.
VERDICT r10 task 3's bar: hinted within ~10% of hand-tuned. Each query is
warmed once (codegen/scan init) before any measured run; all configs run
in ONE JVM so scan caches and the JIT state are shared fairly.

Usage: python tools/hint_validation_probe.py [--big-dir /tmp/scale_probe/documents_1000x]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QIDS = ("dedup_ngram_jaccard", "dedup_simhash", "text_unigram_rarity")
SWEEP = (32, 64, 128)


def _run(spark, qid: str, big_dir: str) -> float:
    from multiomix_aws_emr_spark.queries import QUERIES

    t0 = time.perf_counter()
    QUERIES[qid](spark, big_dir).write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--big-dir", default="/tmp/scale_probe/documents_1000x")
    args = ap.parse_args()

    from multiomix_aws_emr_spark.queries import QUERIES
    from multiomix_aws_emr_spark.queries.registry import SIZING_HINTS, _apply_sizing
    from multiomix_aws_emr_spark.session import build_session

    spark = build_session(app_name="hint-validation")
    spark.sparkContext.setLogLevel("ERROR")
    conf = "spark.sql.shuffle.partitions"
    baseline = spark.conf.get(conf)

    for qid in QIDS:
        resolved = _apply_sizing(spark, SIZING_HINTS[qid], args.big_dir)
        spark.conf.set(conf, baseline)
        _run(spark, qid, args.big_dir)  # warm
        hinted = _run(spark, qid, args.big_dir)

        manual: dict[int, float] = {}
        for n in SWEEP:
            # a declared query's build sets its own count; the sweep point
            # must be set after the build and before the action
            df = QUERIES[qid](spark, args.big_dir)
            spark.conf.set(conf, str(n))
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            executed_at = spark.conf.get(conf)
            assert executed_at == str(n), (
                f"manual sweep point did not bind: wanted {n}, "
                f"executed at {executed_at}"
            )
            manual[n] = round(time.perf_counter() - t0, 2)
        spark.conf.set(conf, baseline)

        best_n, best_t = min(manual.items(), key=lambda kv: kv[1])
        print(
            json.dumps(
                {
                    "qid": qid,
                    "hinted_partitions": int(resolved),
                    "hinted_sec": hinted,
                    "manual_sec": {str(k): v for k, v in manual.items()},
                    "hand_tuned_best": {"partitions": best_n, "sec": best_t},
                    "hinted_over_best": round(hinted / max(best_t, 0.01), 3),
                }
            ),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
