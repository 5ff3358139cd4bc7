"""The bench tools drive the engine through code held in string templates,
which no other test executes. Render each template with dummy values,
compile it, and check every keyword it passes to the engine's entry
points against their signatures — a removed or renamed option then fails
here instead of inside a long bench run. Needs no SparkSession.
"""

from __future__ import annotations

import ast
import importlib.util
import inspect
import os
import string

import pytest

from featurescreening_jl_spark.operators.importance_dist import (
    ensemble_layout,
    feature_importance_partitioned,
)
from featurescreening_jl_spark.operators.screen import screen
from featurescreening_jl_spark.operators.window_features import (
    turn_feature_frame,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = ["bench_scaling"]
ENTRY_POINTS = {
    fn.__name__: fn
    for fn in (screen, feature_importance_partitioned, turn_feature_frame,
               ensemble_layout)
}


def _tool(tool: str):
    spec = importlib.util.spec_from_file_location(
        f"_tool_{tool}", os.path.join(REPO, "tools", f"{tool}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _templates(tool: str) -> dict[str, str]:
    return {
        name: value for name, value in vars(_tool(tool)).items()
        if name.isupper() and isinstance(value, str) and "{repo!r}" in value
    }


def _render(template: str) -> str:
    fields = {
        field for _, field, _, _ in string.Formatter().parse(template)
        if field
    }
    return template.format(**{field: 1 for field in fields})


def _callee(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


@pytest.mark.parametrize("tool", TOOLS)
def test_worker_templates_match_engine_signatures(tool):
    templates = _templates(tool)
    assert "WORKER" in templates
    checked = 0
    for name, template in templates.items():
        source = _render(template)
        tree = ast.parse(source, filename=f"{tool}.{name}")
        compile(tree, f"{tool}.{name}", "exec")
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = ENTRY_POINTS.get(_callee(node))
            if fn is None:
                continue
            params = inspect.signature(fn).parameters
            for kw in node.keywords:
                assert kw.arg in params, (
                    f"{tool}.{name} passes {kw.arg}= to {fn.__name__}"
                )
                if kw.arg == "backend_options" and isinstance(kw.value,
                                                              ast.Dict):
                    backend = inspect.signature(
                        feature_importance_partitioned
                    ).parameters
                    for key in kw.value.keys:
                        assert ast.literal_eval(key) in backend, (
                            f"{tool}.{name} forwards {ast.literal_eval(key)}"
                            f" to feature_importance_partitioned"
                        )
            checked += 1
    assert checked, f"{tool} calls none of {sorted(ENTRY_POINTS)}"


@pytest.mark.parametrize(
    "n_turns, times, expected",
    [
        # strong: the same input at both levels; 4× the cores should take
        # 1/4 of the time. median 11 s vs 4 s → 11 / (4 × 4); best 10 / (4 × 3)
        ({8: 1000, 32: 1000}, {8: [10.0, 12.0, 11.0], 32: [4.0, 3.0, 5.0]},
         (11 / 16, 10 / 12)),
        # weak: 4× the input at 4× the cores should take the same time.
        # median 12 s vs 15 s → 12 / 15; best 10 s vs 13 s → 10 / 13
        ({8: 1000, 32: 4000}, {8: [10.0, 14.0, 12.0], 32: [15.0, 13.0, 16.0]},
         (0.8, 10 / 13)),
    ],
    ids=["strong", "weak"],
)
def test_scaling_efficiency(n_turns, times, expected):
    eff_median, eff_best = _tool("bench_scaling").efficiency(
        times, n_turns, [8, 32]
    )
    assert eff_median == pytest.approx(expected[0])
    assert eff_best == pytest.approx(expected[1])
