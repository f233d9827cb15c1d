"""Golden corpus for ``translate`` (no Spark).

``tests/data/ch_sql_golden.json.gz`` holds 2 848 ClickHouse statements
with the Spark SQL the translator produced for each, or the exception it
raised: every top-level ``translate`` input of a tier-1 run and of
``tools/verify_local.py``, plus ``tools.fuzz_chsql.build_query(seed)[0]``
for seeds 0–999. The outputs were recorded before the translator moved
onto one token stream (``ch_sql.lex``); the replay must match them byte
for byte. It runs in a fresh interpreter, so the view, dictionary and
merged-view registries are empty, as they were when the outputs were
recorded."""

from __future__ import annotations

import gzip
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.path.join(REPO, "tests", "data", "ch_sql_golden.json.gz")

_REPLAY = r"""
import gzip, json, sys
from clickhouse_modules_spark.functions.ch_sql import translate

with gzip.open(sys.argv[1], "rt", encoding="utf-8") as fh:
    records = json.load(fh)
diffs = []
for rec in records:
    try:
        got = {"sql": rec["sql"], "out": translate(rec["sql"])}
    except Exception as e:  # the recorded outcome may be an error
        got = {"sql": rec["sql"], "error": f"{type(e).__name__}: {e}"}
    if got != rec:
        diffs.append({"want": rec, "got": got})
json.dump({"n": len(records), "diffs": diffs}, sys.stdout)
"""


def test_translate_replays_the_golden_corpus():
    with gzip.open(CORPUS, "rt", encoding="utf-8") as fh:
        n = len(json.load(fh))
    proc = subprocess.run(
        [sys.executable, "-c", _REPLAY, CORPUS],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout)
    assert result["n"] == n
    shown = json.dumps(result["diffs"][:3], indent=1)[:4000]
    assert not result["diffs"], (
        f"{len(result['diffs'])} of {n} statements changed:\n{shown}"
    )
