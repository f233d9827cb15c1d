"""Golden corpus for ``translate`` (no Spark).

``tests/data/ch_sql_golden.json.gz`` holds 2 848 ClickHouse statements
with the Spark SQL the translator produced for each, or the exception it
raised: every top-level ``translate`` input of a tier-1 run and of
``tools/verify_local.py``, plus ``tools.fuzz_chsql.build_query(seed)[0]``
for seeds 0–999. The outputs were recorded before the translator moved
onto one token stream (``ch_sql.lex``); the replay must match them byte
for byte. Each statement translates with the empty query context, as
the outputs were recorded with no view, dictionary or merged view
declared; the translator keeps no state between calls, so the replay
runs in this process."""

from __future__ import annotations

import gzip
import json
import os

from clickhouse_modules_spark.functions.ch_sql import translate

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.path.join(REPO, "tests", "data", "ch_sql_golden.json.gz")


def test_translate_replays_the_golden_corpus():
    with gzip.open(CORPUS, "rt", encoding="utf-8") as fh:
        records = json.load(fh)
    diffs = []
    for rec in records:
        try:
            got = {"sql": rec["sql"], "out": translate(rec["sql"])}
        except Exception as e:  # the recorded outcome may be an error
            got = {"sql": rec["sql"], "error": f"{type(e).__name__}: {e}"}
        if got != rec:
            diffs.append({"want": rec, "got": got})
    shown = json.dumps(diffs[:3], indent=1)[:4000]
    assert not diffs, (
        f"{len(diffs)} of {len(records)} statements changed:\n{shown}"
    )
