"""Global-window audit as a regression gate (VERDICT r04 wart 2), opt-in.

BENCH.md's round-4 audit table classified every registry op's global
windows (0 raw / 0 raw-agg after the scalable_windows conversion); the
table alone cannot stop a future edit from silently reintroducing an
unpartitioned window over row-scale input.  This test re-runs
tools/window_audit.py's plan walk over ALL registry ops and asserts
the raw / raw-agg set never grows past the two known classifier
false-positives documented in BENCH.md:

  energy_distance_docs  2-group per-side aggregate; the key "side"
                        matches the classifier's "id" fragment
  err_ranking_docs      cascade window over a rank<=20-filtered
                        frame the static plan walk cannot bound

Planning the 284 registry ops boots Spark and takes ~4 min, so it is
env-gated:

    WINDOW_AUDIT=1 python -m pytest tests/test_window_audit.py -q
"""

from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(
    os.environ.get("WINDOW_AUDIT") != "1",
    reason="plans all registry ops (~4 min); opt in with WINDOW_AUDIT=1",
)

# classifier false-positives, dispositioned in BENCH.md round-4 audit
KNOWN_FALSE_POSITIVES = {"energy_distance_docs", "err_ranking_docs"}

# ops whose planning raised at sf0.001, measured with WINDOW_AUDIT=1;
# any other op failing to plan is a regression, not noise
FROZEN_PLANNING_ERRORS: frozenset[str] = frozenset()
REGISTRY_SIZE = 284


def _load_audit():
    spec = importlib.util.spec_from_file_location(
        "window_audit", ROOT / "tools" / "window_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_new_raw_scale_global_windows(spark):
    audit = _load_audit()
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    offenders: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name, fn in E.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # planning may execute eager splitter collects
            errors[name] = str(e)[:200]
            continue
        for f in audit.audit_plan(plan):
            if f["class"] in ("raw", "raw-agg"):
                offenders[name] = f"{f['class']}: {f['evidence'][:100]}"
                break

    new = {n: v for n, v in offenders.items() if n not in KNOWN_FALSE_POSITIVES}
    assert not new, (
        "new raw-scale global windows (unpartitioned window over "
        f"row-proportional input): {new}"
    )
    # the audit must actually have seen the registry (catch silent
    # registry-load failures masquerading as a clean audit)
    assert len(E.queries()) == REGISTRY_SIZE
    # a plan that fails to build is a plan the audit silently skipped
    assert errors.keys() <= FROZEN_PLANNING_ERRORS, errors
