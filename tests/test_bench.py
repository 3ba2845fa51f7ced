"""bench.run: every run of every selected entry is in the record, each
entry's figure is the median of its runs, each finished entry's runs are
also printed to stderr at once, and --only names are checked."""

from __future__ import annotations

import json
import statistics

import pytest

import bench

SF = "/root/testdata/sf0.01"


def test_run_records_every_run_and_medians(spark, capsys):
    # two cheap suite entries, and a registry query outside the table
    names = ["global_topk", "exact_dedup", "train_split"]
    record = bench.run(spark, SF, only=names, runs=2)

    # one partial line per finished entry, in run order, on stderr
    partial = [json.loads(line) for line in
               capsys.readouterr().err.splitlines() if line.startswith("{")]
    assert partial == [{"name": n, "runs": record["runs"][n],
                        "rows": record["row_counts"][n]} for n in names]

    assert sorted(record["runs"]) == sorted(names)
    for name in names:
        runs = record["runs"][name]
        assert len(runs) == 2
        figures = record["queries"] if name in bench.TABLE else \
            record["diagnostics"]
        assert figures[name] == pytest.approx(statistics.median(runs),
                                              abs=1e-3)
        assert record["row_counts"][name] > 0
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(name)
    assert sorted(record["queries"]) == ["exact_dedup", "global_topk"]
    assert record["value"] == pytest.approx(
        sum(record["queries"].values()), abs=1e-3)
    assert record["pages_per_sec"] is None
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_run_rejects_unknown_names(spark):
    with pytest.raises(ValueError, match="no_such_entry, dedup_componets"):
        bench.run(spark, SF, only=["global_topk", "no_such_entry",
                                   "dedup_componets"])
