"""The graph path runs its per-series Python through one emitter.

`graphs._map_segments` is the only `mapInArrow` in the graph-path modules
(`graphs`, `graphmetrics`, `generate`, `analytics`) and in the contract
builders that feed them (`q_qg_mean_jump`, `q_codec_roundtrip`).  No
pandas row loop (`mapInPandas`, `itertuples`) and no per-series emitter
(`_map_series`) may come back there; the one grouped stage,
`generate.hash_walks`' `applyInPandas`, is the only use of pandas.

The check is static: it reads each module's AST, so it needs no Spark.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
MODULES = ("graphs", "graphmetrics", "generate", "analytics")
CONTRACT_BUILDERS = ("q_qg_mean_jump", "q_codec_roundtrip")
BANNED = {"mapInPandas", "itertuples", "_map_series"}
#: (module, top-level function) -> names only it may use
ALLOWED = {("graphs", "_map_segments"): {"mapInArrow"},
           ("generate", "hash_walks"): {"applyInPandas", "pd"}}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.asname or n.name)
    return out


def _top_level(path: pathlib.Path) -> list[tuple[str, ast.AST]]:
    """(function name or "", node) per top-level statement."""
    return [(getattr(st, "name", ""), st)
            for st in ast.parse(path.read_text()).body]


def _offences(module: str, parts) -> list[str]:
    restricted = BANNED | {"mapInArrow", "applyInPandas", "pd", "pandas"}
    out = []
    for name, node in parts:
        bad = _names(node) & restricted
        bad -= ALLOWED.get((module, name), set())
        out += [f"{module}.{name or '<module>'}: {b}" for b in sorted(bad)]
    return out


@pytest.mark.parametrize("module", MODULES)
def test_graph_module_has_one_emitter(module):
    path = ROOT / "ts2g2_spark" / "operators" / f"{module}.py"
    assert _offences(module, _top_level(path)) == []


def test_contract_graph_builders_use_the_emitter():
    parts = [p for p in _top_level(ROOT / "__spark_entry__.py")
             if p[0] in CONTRACT_BUILDERS]
    assert sorted(n for n, _ in parts) == sorted(CONTRACT_BUILDERS)
    assert _offences("__spark_entry__", parts) == []
    assert all("_map_segments" in _names(node) for _, node in parts)


def test_check_sees_a_pandas_loop():
    """The check flags a mapInPandas + itertuples loop and a pandas
    import."""
    src = ("import pandas as pd\n"
           "def op(df):\n"
           "    def kern(it):\n"
           "        for pdf in it:\n"
           "            for r in pdf.itertuples():\n"
           "                yield pd.DataFrame([r])\n"
           "    return df.mapInPandas(kern, 'x long')\n")
    parts = [(getattr(st, "name", ""), st) for st in ast.parse(src).body]
    assert _offences("graphs", parts) == [
        "graphs.<module>: pd", "graphs.op: itertuples",
        "graphs.op: mapInPandas", "graphs.op: pd"]
