"""Golden corpus for ``translate`` (no Spark).

``tests/data/ch_sql_golden.json.gz`` holds 2 848 ClickHouse statements
with the Spark SQL the translator produced for each, or the exception it
raised: every top-level ``translate`` input of a tier-1 run and of
``tools/verify_local.py``, plus ``tools.fuzz_chsql.build_query(seed)[0]``
for seeds 0–999. The outputs were recorded before the translator moved
onto one token stream (``ch_sql.lex``) and before ``translate`` split
into a statement driver, an expression walker and one call table
(``_CALLS``); the replay must match them byte for byte, with one listed
difference: five error texts told the user to call registration
functions that no longer exist (``register_sampling_key``,
``register_replacing_table``, ``register_join_table``, the "ch_sql
views"), and now name what to supply instead — a ``QueryContext``
entry, the statement's views or a warehouse table. ``RENAMED_ERRORS``
maps each old text to its new one; the replay applies it to the
recorded errors (86 records) and compares everything else unchanged.
Each statement translates with the empty query context, as the outputs
were recorded with no view, dictionary or merged view declared; the
translator keeps no state between calls, so the replay runs in this
process."""

from __future__ import annotations

import gzip
import json
import os

from clickhouse_modules_spark.functions.ch_sql import translate

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.path.join(REPO, "tests", "data", "ch_sql_golden.json.gz")

RENAMED_ERRORS = (
    ("needs register_sampling_key()",
     "needs a SAMPLE BY key: a warehouse table with one, or its entry in "
     "the QueryContext's sampling"),
    ("needs register_replacing_table() or a warehouse table",
     "needs its keys in the QueryContext's replacing entry, or a "
     "warehouse table"),
    ("registered via ch_sql views (",
     "among the statement's views or warehouse tables ("),
    ("is not registered — call register_join_table(spark, name, df, "
     "key_cols) first (the Join-engine analog), or use an explicit LEFT "
     "JOIN / dictGet over a registered dictionary",
     "is not registered as a join table — add join_table(df, key_cols) to "
     "the QueryContext's join_tables (the Join-engine analog), or use an "
     "explicit LEFT JOIN / dictGet over a dictionary"),
    ("expand over a SINGLE registered FROM view's schema — register the "
     "table as a ch_sql view;",
     "expand over a SINGLE FROM table's schema — register the table among "
     "the statement's views or read a warehouse table;"),
)


def test_translate_replays_the_golden_corpus():
    with gzip.open(CORPUS, "rt", encoding="utf-8") as fh:
        records = json.load(fh)
    diffs, renamed = [], 0
    for rec in records:
        if "error" in rec:
            error = rec["error"]
            for old, new in RENAMED_ERRORS:
                error = error.replace(old, new)
            renamed += error != rec["error"]
            rec = {**rec, "error": error}
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
    assert renamed == 86, renamed
