"""Registry-ordering contract: the driver verifies only the FIRST
~DRIVER_WINDOW registry entries, so this test pins what is allowed to
fall outside that window. It exists because round 2 silently starved the
correctness gate: 12 new queries were appended past the window and never
got a driver row (VERDICT round 2, "What's wrong" #1).
"""

import json
import os

import __spark_entry__
from geotiff_spark import oracle_media, oracle_raster
from geotiff_spark.queries import DRIVER_WINDOW, TAIL_QUERIES, registry

R05 = os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r05.json")
R06 = os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r06.json")


def test_every_query_has_fn_and_registry_is_well_formed():
    reg = registry()
    oq = __spark_entry__.oracle_sql()
    for name, (fn, _oracle) in reg.items():
        assert callable(fn), name
        assert isinstance(oq.get(name), str) and oq[name].strip(), name


def test_listing_queries_builds_no_oracle_table(monkeypatch):
    """The registry and queries() hold oracle builders, not their SQL:
    neither encodes a media corpus nor materializes an oracle table."""
    def refuse(*_args):
        raise AssertionError("an oracle table was built")

    monkeypatch.setattr(oracle_raster, "cached_tables", refuse)
    monkeypatch.setattr(oracle_media, "cached_tables", refuse)
    monkeypatch.setattr(oracle_media, "_corpus_key", refuse)
    assert len(registry()) == len(__spark_entry__.queries()) == 103


def test_window_contains_everything_not_explicitly_tailed():
    names = list(registry())
    head, tail = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]
    # nothing outside the window except the declared tail, in order
    assert tail == [q for q in TAIL_QUERIES if q in tail]
    assert set(tail) <= set(TAIL_QUERIES), (
        f"undeclared queries past the driver window: "
        f"{sorted(set(tail) - set(TAIL_QUERIES))} — new queries must land "
        f"inside the first {DRIVER_WINDOW} entries (or be added to "
        f"TAIL_QUERIES with a justification)"
    )
    assert not set(head) & set(TAIL_QUERIES)


def test_tail_entries_are_individually_justified():
    """A query may sit past the driver window only if (a) it was
    hash-green in one of the last two recorded driver rounds (the
    rotation rule: nothing waits outside the window for more than two
    rounds — entries green only in the OLDER round must rotate back in
    next round), or (b) it is an `_exact` baseline sharing its oracle
    string with an in-window primary."""
    reg = registry()
    names = list(reg)
    head = set(names[:DRIVER_WINDOW])
    with open(R05) as fh:
        r05 = json.load(fh)
    with open(R06) as fh:
        r06 = json.load(fh)

    stale = []
    for q in names[DRIVER_WINDOW:]:
        if q.endswith("_exact"):
            primary = q[: -len("_exact")]
            assert primary in head, q
            assert reg[q][1] == reg[primary][1], (
                f"{q} must share its oracle with in-window {primary}"
            )
        else:
            recent = r06.get(q, {}).get("hash_match")
            older = r05.get(q, {}).get("hash_match")
            assert recent or older, (
                f"{q} is past the driver window with no green row in the "
                "last two driver rounds — move it inside the window"
            )
            if not recent:
                stale.append(q)
    # entries green only in the older round are first in line to rotate
    # back into the window next round; cap how many can pile up
    assert len(stale) <= 14, (
        f"too many tail entries without a recent driver row: {stale}"
    )


def test_oracle_coverage_bookkeeping():
    """Round 6 closed the last four no-oracle rows (md5-derived hash /
    plane / anchor modes give minhash_lsh_pairs, simhash_pairs,
    ann_lsh_topk, ann_ivf_topk exact DuckDB twins), so the registry must
    stay at FULL oracle coverage — and the quality gates that pin the
    production (xxhash64 / Gaussian-plane / k-means) fast paths must
    stay registered with oracles of their own."""
    oq = __spark_entry__.oracle_sql()
    assert set(oq) == set(registry()), (
        "every query needs a DuckDB twin (md5-derived randomness if "
        "needed)"
    )
    for gate in ("minhash_recall", "simhash_complete", "ann_recall",
                 "ann_ivf_gate"):
        assert gate in oq, gate
