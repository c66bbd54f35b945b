#!/usr/bin/env python
"""Repo-side leak scan: regenerate LEAKCHECK.json over the current tree.

Scans all tracked source/docs for anything that is not derivable from
public knowledge — internal package imports, non-public URLs/hosts,
cloud bucket names, chat permalinks, credential-shaped strings, and
internal-looking environment variables. The engine is built from the
public PySpark API + the public reference repo only; this gate keeps
it that way. Categories mirror the driver's round-11 artifact.

    python tools/leak_check.py [round_number]
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# public hosts that legitimately appear in docs/docstrings (papers,
# Spark docs, the public reference repo)
PUBLIC_HOSTS = (
    r"(?:www\.)?(?:apache\.org|spark\.apache\.org|github\.com|arxiv\.org|"
    r"duckdb\.org|python\.org|pypi\.org|wikipedia\.org|en\.wikipedia\.org|"
    r"doi\.org|acm\.org|ieee\.org|usenix\.org|vldb\.org|openreview\.net|"
    r"huggingface\.co|kafka\.apache\.org|parquet\.apache\.org|"
    r"arrow\.apache\.org|maven\.apache\.org|docker\.com|hub\.docker\.com|"
    r"localhost|127\.0\.0\.1|example\.com|example\.org)"
)

PATTERNS = {
    # imports of packages that are neither stdlib, the baked-in public
    # deps, nor this repo's own package
    "internal-import": re.compile(
        r"^\s*(?:from\s+(?=\S+\s+import\s)|import\s+)"
        r"(?!pokertracker_cassandra_st_spark|pyspark|pandas|numpy|"
        r"pyarrow|duckdb|pytest|hypothesis|json|os|sys|re|math|time|typing|"
        r"collections|itertools|functools|dataclasses|abc|io|pathlib|glob|"
        r"shutil|subprocess|argparse|random|hashlib|struct|base64|datetime|"
        r"tempfile|textwrap|threading|queue|contextlib|operator|string|"
        r"tarfile|zlib|gzip|uuid|warnings|traceback|importlib|inspect|"
        r"socket|signal|heapq|bisect|array|enum|copy|pickle|types|unittest|"
        r"urllib|http|email|csv|statistics|decimal|fractions|__future__|"
        r"ast|zipfile|PIL|google\.protobuf|"
        r"tests|tools|__spark_entry__|py4j)"
        r"([A-Za-z_][\w.]*)",
        re.M,
    ),
    # URLs pointing anywhere non-public
    "internal-url": re.compile(
        r"https?://(?!" + PUBLIC_HOSTS + r")[\w.-]+\.[a-z]{2,}", re.I
    ),
    # cloud buckets / object stores
    "internal-bucket": re.compile(r"\b(?:s3|gs|s3a|s3n|abfss?|wasbs?)://[\w.-]+", re.I),
    # chat permalinks / workspace links
    "slack-link": re.compile(
        r"(?:slack\.com/archives|app\.slack\.com|#[a-z0-9-]*-(?:eng|infra|oncall)\b)",
        re.I,
    ),
    # credential-shaped strings (AWS keys, generic long hex/base64
    # secrets assigned to *_KEY/TOKEN/SECRET vars)
    "api-key": re.compile(
        r"(?:AKIA[0-9A-Z]{16}|(?:api[_-]?key|secret|token)\s*[=:]\s*['\"][A-Za-z0-9+/]{24,}['\"])",
        re.I,
    ),
    # environment variables not in the repo's documented public set
    "internal-env": re.compile(
        r"os\.environ(?:\.get)?\(\s*['\"](?!SPARK_GRAFT_|SPARK_|JAVA_HOME|TZ\b|"
        r"PATH\b|HOME\b|PYSPARK_|ARROW_|TMPDIR\b|USER\b)([A-Z][A-Z0-9_]*)"
    ),
}


def main() -> None:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 13
    files = subprocess.run(
        ["git", "ls-files"], capture_output=True, text=True, cwd=REPO
    ).stdout.splitlines()
    hits: dict[str, list[str]] = {k: [] for k in PATTERNS}
    for f in files:
        if not f.endswith((".py", ".md", ".json", ".txt", ".sh", ".yml", ".yaml")):
            continue
        if f.startswith(("BENCH_", "CORRECTNESS_", "PAPERS", "SNIPPETS")):
            # driver-written artifacts and retrieved public content are
            # not engine source; the engine gate is the shipped code
            continue
        try:
            src = open(REPO / f, encoding="utf-8", errors="ignore").read()
        except OSError:
            continue
        for cat, pat in PATTERNS.items():
            for m in pat.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                hits[cat].append(f"{f}:{line}: {m.group(0)[:80]}")
    n = sum(len(v) for v in hits.values())
    out = {"round": rnd, "n_hits": n, "hits": hits}
    json.dump(out, open(REPO / "LEAKCHECK.json", "w"), indent=2)
    print(json.dumps({"round": rnd, "n_hits": n}))
    for cat, v in hits.items():
        for h in v:
            print(f"  [{cat}] {h}")


if __name__ == "__main__":
    main()
