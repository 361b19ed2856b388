"""Tests of how a traced call's wall time is split across layers.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402

MS = 1_000_000


def span(name, layer, start_ms, end_ms):
    return {"name": name, "layer": layer, "start_ns": start_ms * MS,
            "end_ns": end_ms * MS}


class SplitOpTest(unittest.TestCase):
    # one 100 ms pipeline call holding a single-file write: its execution
    # runs a parallel job that feeds the sink, then the job whose one-task
    # coalesce stage writes the file
    OP = {"start_ns": 0, "end_ns": 100 * MS, "layer": "pipeline"}
    SPANS = [
        span("sink-execution 3", "spark", 10, 90),
        span("planning", "catalyst", 12, 18),
        span("job 7", "spark", 20, 50),
        span("job 8", "spark", 55, 85),
        span("stage 12", "ops.Sinks", 60, 80),
    ]

    def test_only_the_sink_stage_goes_to_sinks(self):
        owned, driver_only = metrics.split_op(self.OP, self.SPANS)
        self.assertAlmostEqual(owned["ops.Sinks"], 20)
        # both jobs outside the sink stage, and the execution's own time
        self.assertAlmostEqual(owned["spark"], 30 + 10 + 14)
        self.assertAlmostEqual(owned["catalyst"], 6)
        self.assertAlmostEqual(owned["pipeline"], 20)
        self.assertAlmostEqual(sum(owned.values()), 100)
        self.assertAlmostEqual(driver_only, 100 - 30 - 30)

    def test_sink_finish_bound_runs_to_the_next_span(self):
        end = self.OP["end_ns"]
        self.assertAlmostEqual(
            metrics.gap_after(self.SPANS[0], self.SPANS, end), 10)
        later = self.SPANS + [span("analysis", "catalyst", 94, 96)]
        self.assertAlmostEqual(metrics.gap_after(self.SPANS[0], later, end), 4)


if __name__ == "__main__":
    unittest.main()
