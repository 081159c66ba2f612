"""Self-tests of the benchmark's own logic, on tiny hand-made inputs.

No Spark session: span folding, the operation ledger and the output
checks are plain Python over small records.

    python -m pytest perfbench/tests -q
"""

import json
import random

import pytest

from perfbench import checks
from perfbench.trace import (
    UNTRACKED,
    SpanTree,
    attribute_jobs,
    op_layer_metrics,
    read_event_log,
    self_time,
)


def _span(sid, name, parent, start, end, main=True, **attrs):
    return {
        "id": sid, "name": name, "parent": parent, "thread": 1 if main else 2,
        "main": main, "start": start, "end": end, "cpu0": 0.0, "cpu1": 0.0,
        "checkpoints": 0, "attrs": attrs,
    }


def _delta_op_spans():
    """An incremental commit: parse, linking (holding cc), three
    concurrent table writes, then analytics."""
    return [
        _span(1, "op", None, 0.0, 14.0),
        _span(2, "pipeline", 1, 0.0, 10.0),
        {**_span(3, "udfs.parse", 2, 0.2, 2.0), "bracket": True},
        _span(4, "linking", 2, 2.5, 5.0),
        _span(5, "cc", 4, 3.0, 4.5),
        _span(6, "snapshots.write", 2, 5.2, 8.0, main=False, table="triples"),
        _span(7, "snapshots.write", 2, 5.4, 9.5, main=False, table="nodes"),
        _span(8, "snapshots.write", 2, 6.0, 7.0, main=False, table="edges"),
        _span(9, "graph.analytics", 1, 10.0, 14.0),
    ]


class TestSpanFolding:
    def test_layer_self_times_account_for_the_pipeline_span(self):
        spans = _delta_op_spans()
        tree = SpanTree(spans, {}, {})
        m = op_layer_metrics(tree, spans[0], lsh_bands=16)
        layers = (
            m["pipeline.self_s"] + m["udfs.parse_s"] + m["linking.self_s"]
            + m["cc.s"] + m["snapshots.commit_s"]
        )
        assert layers == pytest.approx(m["pipeline.s"])
        # concurrent writes: their summed walls exceed the pool's wall
        assert m["snapshots.write_s_sum"] > m["snapshots.commit_s"]
        assert m["snapshots.commit_s"] == pytest.approx(9.5 - 5.2)
        assert m["linking.self_s"] == pytest.approx(2.5 - 1.5)

    def test_self_times_sum_to_at_most_the_parent(self):
        rng = random.Random(7)
        for _ in range(200):
            # random sequential children, each with nested children
            spans, t, sid = [_span(1, "root", None, 0.0, 100.0)], 0.0, 2
            while t < 90:
                a = t + rng.uniform(0, 5)
                b = min(a + rng.uniform(0.1, 20), 100.0)
                spans.append(_span(sid, "child", 1, a, b))
                ca = a + rng.uniform(0, b - a)
                spans.append(_span(sid + 1, "grandchild", sid, ca, ca + rng.uniform(0, b - ca)))
                sid, t = sid + 2, b
            tree = SpanTree(spans, {}, {})
            total = sum(tree.self_s(s) for s in spans)
            assert total <= 100.0 + 1e-9
            assert all(tree.self_s(s) >= -1e-9 for s in spans)

    def test_self_time_clips_children_to_the_span(self):
        parent = _span(1, "p", None, 0.0, 4.0)
        kids = [_span(2, "a", 1, -1.0, 1.0), _span(3, "b", 1, 0.5, 2.0)]
        assert self_time(parent, kids) == pytest.approx(2.0)


class TestJobAttribution:
    def _log(self, tmp_path, jobs):
        path = tmp_path / "events"
        lines = []
        for jid, submit, tag, stage in jobs:
            props = {"perfbench.span": tag} if tag is not None else {}
            lines.append({"Event": "SparkListenerJobStart", "Job ID": jid,
                          "Submission Time": submit, "Stage IDs": [stage],
                          "Properties": props})
            for ms in (10, 10, 40):
                lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                              "Task Info": {"Launch Time": 0, "Finish Time": ms},
                              "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20}}})
        path.write_text("\n".join(json.dumps(e) for e in lines) + "\n")
        return path

    def test_tags_brackets_untracked_and_time_window(self, tmp_path):
        spans = _delta_op_spans()
        log = self._log(tmp_path, [
            (0, 1000, "2", 10),        # tagged pipeline, inside the parse bracket
            (1, 3000, "2", 11),        # tagged pipeline, after the bracket
            (2, 6500, None, 12),       # untagged pool job: innermost main span
            (3, 6600, "7", 13),        # tagged write on a pool thread
            (4, 7000, UNTRACKED, 14),  # the tracer's own count
        ])
        jobs, tasks = read_event_log(log)
        by_span = attribute_jobs(jobs, spans)
        owner = {j["id"]: sid for sid, js in by_span.items() for j in js}
        assert owner == {0: 3, 1: 2, 2: 2, 3: 7}
        tree = SpanTree(spans, by_span, tasks)
        fold = tree.fold(tree.subtree(spans[0]))
        assert fold["jobs"] == 4 and fold["tasks"] == 12
        assert fold["shuffle_write_mb"] == pytest.approx(12.0)
        assert fold["skew"] == pytest.approx(4.0)


class TestLedger:
    FP = {"pages": 10, "triples": [40, "123"]}

    def test_corrupted_fingerprint_is_counted_in_failed_frac(self):
        ledger = checks.Ledger(expected=self.FP)
        assert ledger.record(1.0, dict(self.FP))
        corrupted = {**self.FP, "triples": [40, "124"]}
        assert not ledger.record(1.0, corrupted)
        assert (ledger.attempted, ledger.failed) == (2, 1)
        assert 1 - ledger.ok_frac == pytest.approx(0.5)

    def test_unrecorded_seed_compares_against_the_first_op(self):
        ledger = checks.Ledger()
        assert ledger.record(1.0, self.FP)
        assert not ledger.record(1.0, {**self.FP, "pages": 9})
        assert ledger.failed == 1

    def test_errors_missing_output_and_timeouts_fail(self):
        ledger = checks.Ledger(limit_s=5.0)
        assert not ledger.record(0.0, None, "RuntimeError: boom")
        assert not ledger.record(1.0, None)
        assert not ledger.record(6.0, self.FP)
        assert ledger.ok_frac == 0.0


class TestChecksOnNothing:
    def test_empty_parity_set_fails(self):
        assert checks.parity_share({}) is None
        assert not checks.parity_ok({})
        assert not checks.parity_ok({"rss": [0, 0], "rdf": [0, 0]})

    def test_parity_exempts_only_rdf(self):
        assert checks.parity_ok({"rss": [5, 5], "rdf": [0, 3]})
        assert not checks.parity_ok({"rss": [4, 5], "rdf": [3, 3]})
        assert checks.parity_share({"rss": [5, 5], "rdf": [0, 5]}) == pytest.approx(0.5)

    def test_empty_author_oracle_set_fails(self):
        oracle = {"David Bau": "db", "david bau": "db", "Jane Doe": "jd"}
        assert checks.author_f1([], oracle) is None
        assert checks.author_f1([("Someone Else", "author:x")], oracle) is None
        assert checks.author_f1([("David Bau", "author:db")], {}) is None

    def test_author_f1(self):
        oracle = {"David Bau": "db", "Dr. David Bau": "db", "Jane Doe": "jd", "jane doe": "jd"}
        perfect = [("David Bau", "a:1"), ("Dr. David Bau", "a:1"), ("Jane Doe", "a:2")]
        assert checks.author_f1(perfect, oracle) == pytest.approx(1.0)
        merged = [("David Bau", "a:1"), ("Dr. David Bau", "a:1"), ("Jane Doe", "a:1")]
        assert checks.author_f1(merged, oracle) == pytest.approx(0.5)
        # one surface under two canonical nodes scores as a singleton
        split = perfect + [("David Bau", "a:3")]
        assert checks.author_f1(split, oracle) == 0.0
