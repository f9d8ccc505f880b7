"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different ones. Ground truth
(needle counts, per-subscription match sets, planted duplicates and
contaminated documents) is known here, independently of the engine, and
returned to the benchmark as a manifest. The engine only ever sees the
files.
"""

from __future__ import annotations

import hashlib
import os
import random
import re

# -- flow logs (FIXTURES.md §1.1, the reference's IngestTest template) -------

_USERS = ["ANNA KOWALSKA", "BORIS PETROV", "CHEN WEI", "DANA SMITH", "EMIL NOVAK",
          "FARAH KHAN", "GUS OLSEN", "HANA SATO"]
_PROTOS = [(6, "TCP"), (17, "UDP"), (7, "TELNET"), (21, "FTP"), (22, "SSH"), (80, "HTTP")]
_EVENTS = ["ASP_SFW_DELETE_FLOW", "ASP_SFW_CREATE_FLOW", "ASP_SFW_RULE_ACCEPT"]
NEEDLE_USER = "OLEG ZHURAKOUSKY"  # DistributedGrep.java:35 literal
_BACKTRACK_HOP = "ge-14/0/0.0:14.0.0.40:40 -> 14.0.0.41:41"  # StringEvaluationTest.java:12

# Grep pattern classes: a rare literal needle, a common token, and a regex
# with nested quantifiers that backtracks on every line.
GREP_PATTERNS = {
    "rare": r"OLEG ZHURAKOUSKY",
    "common": r"\(TELNET\)",
    "backtrack": r"(\d+\.)+\d+:\d+ -> 14\.0\.0\.4\d:4\d",
}


def flow_lines(seed: str, first: int, n: int, p_needle: float = 0.0,
               p_hop: float = 0.0) -> tuple[list[str], list[bool], list[bool]]:
    """``n`` seeded firewall-flow records (~200 bytes each) numbered from
    ``first``. Each is a needle record (user ``NEEDLE_USER``) with
    probability ``p_needle`` and carries the backtracking hop with
    probability ``p_hop``. Returns the lines and the two planted masks."""
    import numpy as np

    r = np.random.default_rng(list(seed.encode()))
    cols = r.integers(0, 1 << 30, size=(n, 11)).tolist()
    needle = (r.random(n) < p_needle).tolist()
    hop = (r.random(n) < p_hop).tolist()
    lines = []
    for j, (pri, sset, user, ev, pr, app, slot, a, b, sp, dp) in enumerate(cols):
        i = first + j
        proto, pname = _PROTOS[pr % len(_PROTOS)]
        a, b = 1 + a % 249, 1 + b % 249
        route = _BACKTRACK_HOP if hop[j] else (
            f"ge-{10 + slot % 4}/0/0.0:156.{a}.0.{b}:{1024 + sp % 64000}"
            f" -> 156.{a}.1.{b}:{1024 + dp % 64000}")
        lines.append(
            f"<{8 + pri % 24}> 2012-06-13T{i // 3600 % 24:02d}:{i // 60 % 60:02d}:{i % 60:02d} "
            f"{{CGN-SET{1 + sset % 4}}}[{NEEDLE_USER if needle[j] else _USERS[user % len(_USERS)]}]: "
            f"{_EVENTS[ev % len(_EVENTS)]}: proto {proto} ({pname}) "
            f"application: test{app % 10}, {route}, deleting forward or watch flow {i}")
    return lines, needle, hop


def write_flow_log(path: str, seed: int, n_lines: int, tag: str = "logs") -> dict:
    """Write ``n_lines`` seeded flow records to ``path``; about one line in
    500 is a needle record and one in 400 carries the backtracking hop.
    ``tag`` names an independent stream of records for the same seed.
    Returns the expected match count of every ``GREP_PATTERNS`` entry
    (known by construction: only planted lines can match ``rare`` and
    ``backtrack``) and the needle lines themselves."""
    lines, needle, hop = flow_lines(f"{tag}:{seed}", 0, n_lines, 0.002, 0.0025)
    with open(path, "w", encoding="utf-8") as out:
        out.write("\n".join(lines) + "\n")
    counts = {
        "rare": sum(needle),
        "common": sum("(TELNET)" in line for line in lines),
        "backtrack": sum(hop),
    }
    return {"lines": n_lines, "grep_counts": counts,
            "needles": [line for line, nd in zip(lines, needle) if nd]}


# -- wiretap stream ----------------------------------------------------------

def wiretap_subscriptions(n: int = 16) -> list[str]:
    """``n`` regexes over the stream lines. The first two partition the
    stream by sequence parity, so every record reaches at least one
    subscriber and has a measurable delivery time; the rest select
    overlapping slices (fan-out > 1)."""
    subs = [r"seq=\d*[02468] due", r"seq=\d*[13579] due"]
    protos = [p for _, p in _PROTOS]
    for j in range(n - 2):
        if j % 3 == 0:
            subs.append(rf"\({protos[j % len(protos)]}\)")
        elif j % 3 == 1:
            subs.append(rf"CGN-SET{1 + j % 4}\}}\[{_USERS[j % len(_USERS)]}\]")
        else:
            subs.append(rf"ge-1{j % 4}/0/0\.0:156\.\d+\.0\.{j}\d?:")
    return subs


def write_wiretap_inputs(stage_dir: str, seed: int, rate: int, steady_s: float,
                         roll_s: float, burst: int, subs: list[str],
                         tag: str = "wiretap", bursts: int = 1) -> dict:
    """Stage the open-loop stream as files: one file per ``roll_s`` during
    the steady phase (``rate`` records per second), then ``bursts`` burst
    files of ``burst`` records each.
    Each line carries its sequence number and scheduled offset (seconds
    from the start of the steady phase); the burst's lines carry
    ``steady_s`` (no burst file when ``burst`` is 0). ``tag`` names an
    independent stream of records for the same seed. Returns the file
    schedule and, per subscription, the sequence numbers it must
    receive."""
    os.makedirs(stage_dir, exist_ok=True)
    per_file = int(rate * roll_s)
    n_files = int(round(steady_s / roll_s))
    sizes = [(k * roll_s, per_file) for k in range(n_files)] + [(steady_s, burst)] * (bursts if burst else 0)
    lines, _, _ = flow_lines(f"{tag}:{seed}", 0, sum(size for _, size in sizes))
    compiled = [re.compile(s) for s in subs]
    expected: list[list[int]] = [[] for _ in subs]
    schedule = []
    seq = 0
    for k, (offset, size) in enumerate(sizes):
        name = f"part-{k:05d}.log"
        with open(os.path.join(stage_dir, name), "w", encoding="utf-8") as out:
            for j in range(size):
                due = offset if k >= n_files else offset + roll_s * j / size
                line = f"{lines[seq]} seq={seq} due={due:.4f}"
                for s, rx in enumerate(compiled):
                    if rx.search(line):
                        expected[s].append(seq)
                out.write(line + "\n")
                seq += 1
        schedule.append({"file": name, "offset": offset, "records": size,
                         "burst": k >= n_files})
    return {"records": seq, "schedule": schedule, "expected": expected,
            "burst_first_seq": seq - burst * (bursts if burst else 0)}


# -- curation corpus ---------------------------------------------------------

def _vocab(rng: random.Random, size: int) -> list[str]:
    consonants, vowels = "bcdfghklmnprstvz", "aeiou"
    words = set()
    while len(words) < size:
        n = rng.randrange(2, 5)
        words.add("".join(rng.choice(consonants) + rng.choice(vowels) for _ in range(n)))
    return sorted(words)


def _zipf_words(rng: random.Random):
    """A sampler of Zipf-distributed words (exponent 1.0) over a synthetic
    20k-word vocabulary; flat enough that unrelated documents rarely share
    a word 3-gram. Returns (words(n), vocab)."""
    import numpy as np

    vocab = _vocab(rng, 20000)
    cum = np.cumsum([1.0 / (r + 1) for r in range(len(vocab))])
    cum /= cum[-1]

    def words(n: int) -> list[str]:
        idx = np.searchsorted(cum, [rng.random() for _ in range(n)])
        return [vocab[min(i, len(vocab) - 1)] for i in idx]

    return words, vocab


def zipf_texts(seed: str, n_docs: int, n_words: int) -> list[str]:
    """``n_docs`` Zipf texts of exactly ``n_words`` words each."""
    rng = random.Random(seed)
    words, _ = _zipf_words(rng)
    return [" ".join(words(n_words)) for _ in range(n_docs)]


def write_corpus(corpus_path: str, holdout_path: str, seed: int, n_docs: int,
                 n_holdout: int = 40) -> dict:
    """Write a seeded corpus and holdout as parquet (doc_id, text).

    Words follow a Zipf law; lengths are log-normal (median ~60 words,
    long tail, never capped). Planted cases: exact-duplicate groups (case
    and whitespace variants of one document), near duplicates (~5 % of
    words substituted) and contaminated documents (most of a holdout
    document pasted into a corpus document)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}")
    words, vocab = _zipf_words(rng)

    def length() -> int:
        return max(20, int(rng.lognormvariate(4.1, 0.5)))

    holdout = [" ".join(words(length())) for _ in range(n_holdout)]
    # a fixed number of each planted case, in seeded order
    n_plant = max(1, n_docs // 50)
    kinds = ["dup"] * n_plant + ["near"] * n_plant + ["contaminated"] * n_plant
    kinds += ["plain"] * (n_docs - 3 * n_plant - 2 * n_plant - n_plant)
    rng.shuffle(kinds)
    docs: list[str] = []
    dup_groups: list[list[int]] = []
    near_pairs: list[list[int]] = []
    contaminated: list[int] = []
    for kind in kinds:
        base = " ".join(words(length()))
        if kind == "dup":
            dup_groups.append([len(docs), len(docs) + 1, len(docs) + 2])
            docs += [base, base.upper(), "  " + base.replace(" ", "   ", 3) + " "]
        elif kind == "near":
            ws = base.split()
            for _ in range(max(1, len(ws) // 20)):
                ws[rng.randrange(len(ws))] = vocab[rng.randrange(len(vocab))]
            near_pairs.append([len(docs), len(docs) + 1])
            docs += [base, " ".join(ws)]
        elif kind == "contaminated":
            src = holdout[rng.randrange(n_holdout)].split()
            contaminated.append(len(docs))
            docs.append(" ".join(words(length() // 4) + src[: len(src) * 3 // 4]))
        else:
            docs.append(base)
    for path, texts in ((corpus_path, docs), (holdout_path, holdout)):
        table = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                          "text": pa.array(texts, pa.string())})
        pq.write_table(table, path)
    return {"docs": len(docs), "holdout": n_holdout, "dup_groups": dup_groups,
            "near_pairs": near_pairs, "contaminated": contaminated,
            "words": sum(len(d.split()) for d in docs)}


def digest_tree(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

