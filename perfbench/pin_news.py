#!/usr/bin/env python3
"""Pin the digests that the news_pipeline output check compares with.

Usage (from the root of a checkout of the commit whose outputs are the
reference):

    python3 perfbench/pin_news.py

The seed of a news_pipeline run picks one of TOPIC_SETS topic sets (seed
modulo TOPIC_SETS, as `Main.topicSets` says). This runs the workload once per
topic set and writes the digest of every clean zone and of every chain output
to perfbench/news_digests.json. The runs themselves report `correct: false`
until that file exists; only their outputs are used here.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import oracle  # noqa: E402
import run  # noqa: E402

TOPIC_SETS = 16


def main():
    out = os.path.join(".bench_build", "run", "news_pipeline")
    pins = {"zones": {}, "chains": {}}
    for seed in range(TOPIC_SETS):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "news_pipeline", "--seed", str(seed), "--seconds", "1",
                            "--trace", "0"], capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: rc={p.returncode}\n{p.stderr[-2000:]}")
        res = json.load(open(os.path.join(out, "result.json")))
        topics = res["env"]["topics"]
        chain = oracle.read(os.path.join(out, "results", "chain"))
        if res["failed_check_ops"] or run.check_news_counts(res, chain):
            sys.exit(f"seed {seed}: the check pass failed: {p.stderr[-2000:]}")
        pins["zones"].update(oracle.zone_digests(res))
        pins["chains"]["|".join(topics)] = oracle.chain_digest(chain)
        print(f"seed {seed}: {topics}", file=sys.stderr)
    with open(run.NEWS_PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
