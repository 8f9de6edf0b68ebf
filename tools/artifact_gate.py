"""Round-close completeness gate for committed artifacts.

Two rounds running, a close-out artifact shipped STALE against the final
catalog: round 4's plan audit missed g3/t15, round 5's oracle sweep
missed smp6 (each landed in the round's last commit, after the artifact
was generated). The content was re-proven green by the judge both times
— the gap is purely "artifact generated before the last entry landed",
and it recurs because nothing mechanical fails when it happens.

This gate makes it fail. For each given artifact it asserts:

- the artifact's entry keys == the LIVE ``__spark_entry__.queries()``
  keys (no missing, no extra/renamed leftovers);
- every entry is green for its artifact kind:
  * correctness sweeps (``driver_sim --json``): ``err`` exactly null
    and rows/schema/hash matches all exactly True — an entry that
    crashed mid-sweep and wrote nulls (or omitted fields) must NOT
    pass as green (round-6 advice);
  * plan audits: no ``error`` recorded for the entry.
- the count-bearing prose lines (SURVEY.md / README.md / COVERAGE.md)
  agree with the live catalog size — SURVEY.md shipped stale at
  141-vs-142 in round 6, one layer above the artifact staleness this
  gate already catches.

Usage:
    python tools/driver_sim.py SF_DIR --json corr.json
    python tools/artifact_gate.py corr.json [plan_audit.json ...]

Exit 0 iff every artifact is complete and green. Run it AFTER the last
entry-adding commit, as the final step of the round-close protocol
(SCALE.md), alongside the bench_diff and plan-audit gates.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def live_query_keys() -> set[str]:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return set(mod.queries())


def check(path: str, expected: set[str]) -> list[str]:
    problems: list[str] = []
    with open(path) as f:
        art = json.load(f)
    # bench artifacts (BENCH_LOCAL_rN.json) carry numeric wall seconds
    # under "queries": gate them on COMPLETENESS + finite positives, so
    # a catalog entry missing from the bench suite fails the gate the
    # same way a missing oracle result does (round-7 verdict #4 — 60 of
    # 154 entries were outside the suite and a regression in any would
    # have shipped silently)
    if (
        isinstance(art, dict)
        and isinstance(art.get("queries"), dict)
        and art["queries"]
        and all(
            isinstance(v, (int, float)) or v is None
            for v in art["queries"].values()
        )
    ):
        keys = set(art["queries"])
        missing = sorted(expected - keys)
        if missing:
            problems.append(
                f"{path}: bench MISSING {len(missing)} catalog entries: "
                f"{', '.join(missing)}"
            )
        bad = sorted(
            k for k, v in art["queries"].items()
            if k in expected and not (isinstance(v, (int, float)) and v > 0)
        )
        if bad:
            problems.append(
                f"{path}: bench non-positive/null wall for: {', '.join(bad)}"
            )
        return problems
    # plan_audit artifacts nest per-entry records under "per_query"
    entries = art.get("per_query", art) if isinstance(art, dict) else None
    if not isinstance(entries, dict):
        return [f"{path}: not a per-entry dict artifact"]
    keys = set(entries)
    missing = sorted(expected - keys)
    extra = sorted(keys - expected)
    if missing:
        problems.append(f"{path}: MISSING {len(missing)} entries "
                        f"(stale artifact): {', '.join(missing)}")
    if extra:
        problems.append(f"{path}: {len(extra)} unknown entries "
                        f"(renamed/removed since generation): "
                        f"{', '.join(extra)}")
    for name in sorted(keys & expected):
        rec = entries[name]
        if not isinstance(rec, dict):
            continue
        match_flds = ("rows_match", "schema_match", "hash_match")
        is_sweep = any(f in rec for f in match_flds)
        # 'error' (the plan-audit field name) fails ANY record kind;
        # sweep 'err' is covered by the stricter exactly-null check
        # below (one FAIL line per defect, round-7 review)
        if rec.get("error"):
            problems.append(f"{path}: {name}: err={rec.get('error')}")
        elif not is_sweep and rec.get("err"):
            problems.append(f"{path}: {name}: err={rec.get('err')}")
        if is_sweep:
            # correctness sweeps must be affirmatively green: a crashed
            # entry that wrote null matches (or err='') would otherwise
            # pass, defeating the greenness guarantee. rows-only entries
            # (no oracle_sql) legitimately record schema/hash as null —
            # driver_sim marks them "mode": "rows_only" (older artifacts:
            # recognizable by rows_match=True with no oracle columns).
            weak = rec.get("mode") == "rows_only" or (
                rec.get("rows_match") is True
                and rec.get("oracle_rows") is None
                and rec.get("schema_match") is None
                and rec.get("hash_match") is None
            )
            required = ("rows_match",) if weak else match_flds
            if rec.get("err", None) is not None:
                problems.append(
                    f"{path}: {name}: err is {rec.get('err')!r}, not null"
                )
            for fld in required:
                if rec.get(fld) is not True:
                    problems.append(
                        f"{path}: {name}: {fld} is "
                        f"{rec.get(fld)!r}, not True"
                    )
    return problems


# count-bearing prose lines: file -> regex whose group(1) must equal the
# live catalog size. A file with no match passes (counts removed from
# prose is the other sanctioned fix).
PROSE_COUNT_PATTERNS = {
    "SURVEY.md": r"all (\d+) catalog entries",
    "README.md": r"(\d+) oracle-checked queries",
    "COVERAGE.md": r"\(all (\d+)\b",
}


def check_prose(expected_count: int) -> list[str]:
    import re

    problems: list[str] = []
    for fname, pat in PROSE_COUNT_PATTERNS.items():
        fpath = os.path.join(REPO, fname)
        if not os.path.exists(fpath):
            continue
        with open(fpath) as f:
            text = f.read()
        for m in re.finditer(pat, text):
            if int(m.group(1)) != expected_count:
                line = text.count("\n", 0, m.start()) + 1
                problems.append(
                    f"{fname}:{line}: prose says {m.group(1)} entries, "
                    f"live catalog has {expected_count}"
                )
    return problems


def main() -> int:
    paths = sys.argv[1:]
    if not paths:
        print(__doc__)
        return 2
    expected = live_query_keys()
    print(f"live catalog: {len(expected)} queries() entries")
    rc = 0
    prose = check_prose(len(expected))
    if prose:
        rc = 1
        for p in prose:
            print(f"FAIL {p}")
    else:
        print("OK   prose counts (SURVEY/README/COVERAGE) match live "
              "catalog")
    for path in paths:
        problems = check(path, expected)
        if problems:
            rc = 1
            for p in problems:
                print(f"FAIL {p}")
        else:
            print(f"OK   {path}: complete ({len(expected)} entries) "
                  f"and green")
    return rc


if __name__ == "__main__":
    sys.exit(main())
