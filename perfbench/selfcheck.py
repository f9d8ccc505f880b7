#!/usr/bin/env python3
"""Self-checks of the benchmark itself (no Spark needed), run from the repo root:

    python3 perfbench/selfcheck.py

1. Same seed -> byte-identical inputs; another seed -> different inputs.
2. The generator's ground truth agrees with an independent regex scan.
3. Every correctness check passes the true answer and fails a planted
   wrong one.

Exit status 1 if any self-check fails.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

import checks
import gen


def _inputs(root: str, seed: int) -> dict:
    os.makedirs(root, exist_ok=True)
    logs = gen.write_flow_log(os.path.join(root, "flow.log"), seed, 20_000)
    stream = gen.write_wiretap_inputs(os.path.join(root, "stage"), seed, 1000, 2.0, 0.5, 500,
                                      gen.wiretap_subscriptions(16))
    warm_logs = gen.write_flow_log(os.path.join(root, "warm.log"), seed, 20_000, tag="logs-warm")
    warm_stream = gen.write_wiretap_inputs(os.path.join(root, "warm-stage"), seed, 1000, 1.0, 0.5, 0,
                                           gen.wiretap_subscriptions(16), tag="wiretap-warm")
    corpus = gen.write_corpus(os.path.join(root, "corpus.parquet"),
                              os.path.join(root, "holdout.parquet"), seed, 300)
    return {"logs": logs, "stream": stream, "corpus": corpus, "warm_logs": warm_logs,
            "warm_stream": warm_stream, "digest": gen.digest_tree(root)}


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    results: list[tuple[str, bool]] = []

    def expect(name: str, ok: bool) -> None:
        results.append((name, ok))
        print(("ok   " if ok else "FAIL ") + name)

    try:
        a = _inputs(os.path.join(work, "a"), 7)
        b = _inputs(os.path.join(work, "b"), 7)
        c = _inputs(os.path.join(work, "c"), 8)
        expect("same seed gives byte-identical inputs", a["digest"] == b["digest"])
        expect("another seed gives different inputs", a["digest"] != c["digest"])
        expect("warm-up records differ from the measured ones",
               a["warm_logs"]["needles"] != a["logs"]["needles"][:len(a["warm_logs"]["needles"])]
               and gen.digest_tree(os.path.join(work, "a", "warm-stage"))
               != gen.digest_tree(os.path.join(work, "a", "stage")))
        expect("a stream without a burst has no burst file",
               not any(e["burst"] for e in a["warm_stream"]["schedule"])
               and a["warm_stream"]["records"] == 1000)

        with open(os.path.join(work, "a", "flow.log"), encoding="utf-8") as f:
            lines = f.read().splitlines()
        scanned = {k: sum(1 for line in lines if re.search(p, line))
                   for k, p in gen.GREP_PATTERNS.items()}
        expect("grep ground truth matches a regex scan", scanned == a["logs"]["grep_counts"])
        needles = [line for line in lines if re.search(gen.GREP_PATTERNS["rare"], line)]

        logs = a["logs"]
        expect("record_count passes the true count", not checks.check_record_count(logs, len(lines)))
        expect("record_count fails a wrong count", bool(checks.check_record_count(logs, len(lines) + 1)))
        n_rare = logs["grep_counts"]["rare"]
        expect("grep_count passes the true count", not checks.check_grep_count(logs, "rare", n_rare))
        expect("grep_count fails a wrong count", bool(checks.check_grep_count(logs, "rare", n_rare - 1)))
        expect("grep rows pass the needle records", not checks.check_grep_rows(logs, "rare", needles))
        swapped = needles[:-1] + [lines[0]]
        expect("grep rows fail a swapped record", bool(checks.check_grep_rows(logs, "rare", swapped)))

        want = a["stream"]["expected"]
        fails, dropped, extra = checks.check_deliveries(want, [list(w) for w in want])
        expect("deliveries pass the expected sets", not fails and dropped == extra == 0)
        bad = [list(w) for w in want]
        bad[0] = bad[0][1:]  # one record dropped
        bad[1] = bad[1] + bad[1][:1]  # one record delivered twice
        fails, dropped, extra = checks.check_deliveries(want, bad)
        expect("deliveries fail a drop and a duplicate", len(fails) == 2 and dropped == 1 and extra == 1)

        corpus = a["corpus"]
        planted = {i for g in corpus["dup_groups"] for i in g[1:]} | set(corpus["contaminated"])
        good = [(i, "train") for i in range(corpus["docs"]) if i not in planted]
        digest = checks.curate_digest(good)
        expect("curate passes a clean result", not checks.check_curate(corpus, good, digest))
        dup = good + [(corpus["dup_groups"][0][1], "train")]
        expect("curate fails a kept duplicate", bool(checks.check_curate(corpus, dup, None)))
        leak = good + [(corpus["contaminated"][0], "val")]
        expect("curate fails a kept contaminated doc", bool(checks.check_curate(corpus, leak, None)))
        expect("curate fails a changed output", bool(checks.check_curate(corpus, good[1:], digest)))
        expect("curate fails an empty output", bool(checks.check_curate(corpus, [], None)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = [name for name, ok in results if not ok]
    print(f"{len(results) - len(failed)}/{len(results)} self-checks passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
