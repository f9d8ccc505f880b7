"""Correctness checks. Each takes the generator's manifest and what the
engine returned, and returns a list of failure messages (empty = pass).
They are pure functions, so ``selfcheck.py`` can feed them planted wrong
answers without starting Spark."""

from __future__ import annotations

import hashlib


def check_record_count(manifest: dict, count: int) -> list[str]:
    if count != manifest["lines"]:
        return [f"record_count {count} != {manifest['lines']} generated lines"]
    return []


def check_grep_count(manifest: dict, cls: str, count: int) -> list[str]:
    want = manifest["grep_counts"][cls]
    if count != want:
        return [f"grep_count[{cls}] {count} != {want} seeded"]
    return []


def check_grep_rows(manifest: dict, cls: str, rows: list[str]) -> list[str]:
    """Rows returned by a grep: their number must equal the seeded count,
    and for the needle class they must be exactly the needle records."""
    out = check_grep_count(manifest, cls, len(rows))
    if cls == "rare" and sorted(rows) != sorted(manifest["needles"]):
        out.append("grep[rare] rows differ from the seeded needle records")
    return out


def check_deliveries(expected: list[list[int]], received: list[list[int]]) -> tuple[list[str], int, int]:
    """Per subscription, the delivered sequence numbers must equal the
    expected set exactly once each. Returns (failures, dropped, extra):
    ``dropped`` counts expected records never delivered, ``extra``
    counts duplicate or unexpected deliveries."""
    failures, dropped, extra = [], 0, 0
    for sub, (want, got) in enumerate(zip(expected, received)):
        want_set, got_set = set(want), set(got)
        missing = len(want_set - got_set)
        surplus = len(got_set - want_set) + (len(got) - len(got_set))
        dropped += missing
        extra += surplus
        if missing or surplus:
            failures.append(f"subscriber {sub}: {missing} dropped, {surplus} duplicate/unexpected")
    return failures, dropped, extra


def curate_digest(rows: list[tuple[int, str]]) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def check_curate(manifest: dict, rows: list[tuple[int, str]], digest: str | None) -> list[str]:
    """Survivors of one ``Engine.curate`` call: at most one member of each
    planted exact-duplicate group, no planted contaminated document, only
    known splits, and the same output as every other call on the same
    input (``digest`` of the first call; None for the first call)."""
    out = []
    ids = [i for i, _ in rows]
    survivors = set(ids)
    if not rows:
        out.append("curate returned no documents")
    if len(survivors) != len(ids):
        out.append("curate returned a document twice")
    kept = [g for g in manifest["dup_groups"] if sum(i in survivors for i in g) > 1]
    if kept:
        out.append(f"{len(kept)} planted exact-duplicate groups kept more than one copy")
    leaked = [i for i in manifest["contaminated"] if i in survivors]
    if leaked:
        out.append(f"{len(leaked)} planted contaminated documents survived")
    splits = {s for _, s in rows} - {"train", "val", "test"}
    if splits:
        out.append(f"unknown splits {sorted(splits)}")
    if digest is not None and curate_digest(rows) != digest:
        out.append("curate output differs between calls on the same input")
    return out
