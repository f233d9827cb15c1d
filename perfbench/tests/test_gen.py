"""Generators: same seed, same inputs; fixed mix across seeds."""

from collections import Counter

import gen


def test_tables_deterministic_and_shaped():
    a, b = gen.make_tables(), gen.make_tables()
    assert set(a) == set(gen.SF01_ROWS)
    for name, rows in gen.SF01_ROWS.items():
        assert a[name].num_rows == rows
        assert a[name].equals(b[name]), name
    assert not gen.make_tables(seed=7)["lineitem"].equals(a["lineitem"])


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(12)]
    assert gen.query_order(names, 3) == gen.query_order(names, 3)
    assert sorted(gen.query_order(names, 3)) == sorted(names)
    assert gen.query_order(names, 3) != gen.query_order(names, 4)


def test_playbook_deterministic_with_fixed_mix():
    assert gen.playbook(5) == gen.playbook(5)
    assert gen.playbook(5) != gen.playbook(6)
    mixes = {
        tuple(sorted(Counter(kind for kind, _ in gen.playbook(s)[1]).items()))
        for s in range(20)
    }
    assert mixes == {(("grants", 1), ("roles", 1), ("user", 3))}


def test_playbook_catalog_sizes_do_not_depend_on_seed():
    sizes = {
        tuple(len(rows) for name, rows in sorted(gen.playbook(s)[0].items())
              if name != "role_grants" and name != "grants")
        for s in range(10)
    }
    assert len(sizes) == 1


def test_ingest_script_deterministic_with_fixed_sizes():
    a = gen.ingest_script(9)
    assert a == gen.ingest_script(9)
    assert a != gen.ingest_script(10)
    for s in range(10):
        sizes = sorted(len(b) for b in gen.ingest_script(s)["batches"])
        assert sizes == sorted(gen.INSERT_BATCH_ROWS)
    versions = [row[3] for b in a["batches"] for row in b]
    assert versions == sorted(set(versions))  # unique, increasing versions
