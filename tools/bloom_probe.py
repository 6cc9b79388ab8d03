"""A/B probe: does the injected runtime bloom filter PAY at volume?

``join_runtime_bloom`` plan-asserts that Catalyst injects
``might_contain(bloom_filter_agg(o_orderkey))`` on the lineitem scan; this
probe measures what the injection is FOR — the fact-side rows dropped
before the join's shuffle — at a synthesized scale where the exchange
actually dominates (the fixture SFs are startup-cost-dominated).

Method (the family-probe protocol from BASELINE.md): synthesize the
relational tier at ``--replicas`` x sf0.1 via tools/scale_probe (key-shifted
TPC-H-style sharding — selectivities preserved exactly), then run the
declared query's plan to a noop sink INTERLEAVED bloom-on / bloom-off,
``--reps`` times each. Both variants disable broadcast (the comparison is
SMJ-with-bloom vs SMJ-without, not bloom-vs-broadcast) and share one warm
JVM. Per run we record wall seconds and the fresh stages' shuffle-write
bytes from the status REST API: the bloom's benefit is the fact exchange
shrinking to the ~1/5 of lineitem that survives ``might_contain``; its
cost is the creation-side ``bloom_filter_agg`` job.

Usage:
  python tools/bloom_probe.py [--replicas 10] [--reps 3]
                              [--src /root/testdata/sf0.1]
                              [--out-root /tmp/bloom_probe]

Prints one JSON line per run plus a min/median summary per variant.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QID = "join_runtime_bloom"

#: bloom-off control: same forced-SMJ posture, injection disabled. The
#: application threshold is irrelevant once the rule is off, but keeping
#: the broadcast override identical isolates exactly one variable.
OFF_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
}

#: "sized" variant: the stock sketch (expectedNumItems 1M, numBits 8.4M
#: ≈ 1 MB) SATURATES once the creation side's NDV passes ~1M keys — false
#: positives then let unprunable fact rows through and the measured
#: reduction degrades (observed at 100x: 70% -> 38%). Sizing the sketch
#: to the creation-side NDV restores the prune at an 8 MB bitmap cost.
SIZED_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems": "8000000",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems": "16000000",
    "spark.sql.optimizer.runtime.bloomFilter.numBits": "67108864",
}


def _stages(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out-root", default="/tmp/bloom_probe")
    args = ap.parse_args()

    from tools.scale_probe import synthesize

    from multiomix_aws_emr_spark.queries import QUERIES
    from multiomix_aws_emr_spark.queries.relational import _RUNTIME_BLOOM_CONFS
    from multiomix_aws_emr_spark.session import build_session

    spark = build_session(
        app_name="bloom-probe",
        extra_conf={"spark.ui.enabled": "true"},
    )
    # synthesize() caches tables by path — key the dir by replica count
    big_dir = synthesize(
        spark,
        "relational",
        args.src,
        os.path.join(args.out_root, f"relational_{args.replicas}x"),
        args.replicas,
    )

    # The sketch-size keys are in no query's extra_confs, so no declared
    # build puts them back: every variant sets them.
    stock = {key: spark.conf.get(key) for key in SIZED_CONFS}
    variant_confs = {
        "on": stock,
        "sized": SIZED_CONFS,
        "off": {**stock, **OFF_CONFS},
    }

    def run(variant: str) -> dict:
        # the build sets the query's own confs; a variant overrides them
        # after the build and before the action
        df = QUERIES[QID](spark, big_dir)
        confs = variant_confs[variant]
        for key, value in confs.items():
            spark.conf.set(key, value)
        # a variant whose confs are not live would measure another
        # variant's plan
        want = {**_RUNTIME_BLOOM_CONFS, **confs}
        live = {key: spark.conf.get(key) for key in want}
        assert live == want, f"{variant} confs not live at save: {live}"
        seen = {s["stageId"] for s in _stages(spark)}
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        fresh = [s for s in _stages(spark) if s["stageId"] not in seen]
        rec = {
            "variant": variant,
            "sec": round(wall, 2),
            "total_shuffle_mb": round(
                sum(s.get("shuffleWriteBytes", 0) for s in fresh) / 1e6, 1
            ),
            "widest_stage_shuffle_mb": round(
                max((s.get("shuffleWriteBytes", 0) for s in fresh), default=0)
                / 1e6,
                1,
            ),
            "n_stages": len(fresh),
        }
        print(json.dumps(rec), flush=True)
        return rec

    variants = ("on", "sized", "off")
    # one untimed warm pass per variant (file listing, codegen caches)
    for v in variants:
        run(v)
    runs: list[dict] = []
    for _ in range(args.reps):
        for v in variants:
            runs.append(run(v))

    summary = {}
    for variant in variants:
        walls = [r["sec"] for r in runs if r["variant"] == variant]
        shuf = [r["total_shuffle_mb"] for r in runs if r["variant"] == variant]
        summary[variant] = {
            "min_sec": min(walls),
            "median_sec": round(statistics.median(walls), 2),
            "median_total_shuffle_mb": round(statistics.median(shuf), 1),
        }
    summary["replicas"] = args.replicas
    off_mb = max(summary["off"]["median_total_shuffle_mb"], 0.1)
    summary["shuffle_reduction"] = {
        v: round(1 - summary[v]["median_total_shuffle_mb"] / off_mb, 3)
        for v in ("on", "sized")
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
