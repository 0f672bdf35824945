"""The package runs its per-series Python through one emitter.

`emit._map_segments` (operators/emit.py) is the package's only
`mapInArrow`, apart from the two token-batch kernels of the rollup job
(`rollup_from_tokens`, `compress_chunks`).  A pandas crossing
(`mapInPandas`, `applyInPandas`, `itertuples`, a `pandas` import) may
appear only where an `ALLOWED` row says why: grouped stages that need a
whole group per call, and the batch kernels over documents, tokens and
vectors.  The contract builders that feed the graph path
(`q_qg_mean_jump`, `q_codec_roundtrip`) run on the emitter too, and the
emitter module imports no kernels, so a Python worker that runs it pays
no import of code it does not use.

The check is static: it reads each module's AST, so it needs no Spark.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ts2g2_spark"
EMITTER = "operators.emit._map_segments"
GRAPH_MODULES = ("graphs", "graphmetrics", "generate", "analytics")
CONTRACT_BUILDERS = ("q_qg_mean_jump", "q_codec_roundtrip")
ARROW = {"mapInArrow"}
PANDAS = {"mapInPandas", "applyInPandas", "itertuples", "pandas", "pd"}

_GROUPED = "grouped stage: a whole group per call, which a map cannot give"
_BATCH = ("batch kernel over documents, tokens or vectors, vectorized per "
          "pandas batch, not a per-series row loop")
#: "module" or "module.function" -> (names it may use, why)
ALLOWED: dict[str, tuple[set[str], str]] = {
    "plans.rollup.rollup_from_tokens": (
        ARROW, "the rollup job's token kernel: one pass per Arrow batch of "
               "tokens, with its own output layout"),
    "plans.chunks.compress_chunks": (
        ARROW, "the chunk encoder: one pass per Arrow batch of tokens"),
    "plans.chunks.decompress_chunks": (PANDAS, _GROUPED),
    "operators.generate.hash_walks": (PANDAS, _GROUPED),
    "operators.bpe": (PANDAS, _BATCH),
    "operators.dedup": (PANDAS, _BATCH),
    "operators.similarity": (PANDAS, _BATCH),
    "operators.multimodal": (PANDAS, _BATCH),
    "datagen": (PANDAS, _BATCH),
}
#: the only top-level imports the emitter module may make
EMITTER_IMPORTS = {"__future__", "collections.abc", "typing", "numpy",
                   "pyarrow", "pyspark.sql", "pyspark.sql.types"}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.asname or n.name)
            out.add(n.name.split(".")[0])
    return out


def _top_level(path: pathlib.Path) -> list[tuple[str, ast.AST]]:
    """(function name or "", node) per top-level statement."""
    return [(getattr(st, "name", ""), st)
            for st in ast.parse(path.read_text()).body]


def _modules() -> list[str]:
    return sorted(".".join(p.relative_to(PACKAGE).with_suffix("").parts)
                  for p in PACKAGE.rglob("*.py"))


def _path(module: str) -> pathlib.Path:
    return PACKAGE.joinpath(*module.split(".")).with_suffix(".py")


def _offences(module: str, parts) -> list[str]:
    out = []
    for name, node in parts:
        qual = f"{module}.{name or '<module>'}"
        bad = _names(node) & (ARROW | PANDAS)
        if qual == EMITTER:
            bad -= ARROW
        for key in (module, qual):
            bad -= ALLOWED.get(key, (set(), ""))[0]
        out += [f"{qual}: {b}" for b in sorted(bad)]
    return out


@pytest.mark.parametrize("module", GRAPH_MODULES)
def test_graph_module_has_one_emitter(module):
    module = f"operators.{module}"
    assert _offences(module, _top_level(_path(module))) == []


@pytest.mark.parametrize(
    "module", [m for m in _modules()
               if m not in {f"operators.{g}" for g in GRAPH_MODULES}])
def test_module_crosses_only_through_the_emitter(module):
    assert _offences(module, _top_level(_path(module))) == []


def test_one_mapinarrow_besides_the_token_kernels_and_rows_are_live():
    """mapInArrow appears in the emitter and in its two ALLOWED rows only,
    and every ALLOWED row still uses a name it is allowed."""
    arrow, used = set(), set()
    for module in _modules():
        for name, node in _top_level(_path(module)):
            names = _names(node)
            qual = f"{module}.{name or '<module>'}"
            if names & ARROW:
                arrow.add(qual)
            for key in (module, qual):
                if names & ALLOWED.get(key, (set(), ""))[0]:
                    used.add(key)
    assert arrow == {EMITTER} | {k for k, (n, _) in ALLOWED.items()
                                 if n == ARROW}
    assert used == set(ALLOWED)


def test_emitter_imports_no_kernels():
    """The emitter module imports only numpy, pyarrow and pyspark: not
    `kernels`, not `graphs`, nothing else of the package."""
    imported = set()
    for node in ast.parse(_path("operators.emit").read_text()).body:
        if isinstance(node, ast.Import):
            imported |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            imported.add(node.module)
    assert imported <= EMITTER_IMPORTS, imported
    assert not {"kernels", "graphs"} & _names(
        ast.parse(_path("operators.emit").read_text()))


def test_contract_graph_builders_use_the_emitter():
    parts = [p for p in _top_level(ROOT / "__spark_entry__.py")
             if p[0] in CONTRACT_BUILDERS]
    assert sorted(n for n, _ in parts) == sorted(CONTRACT_BUILDERS)
    assert _offences("__spark_entry__", parts) == []
    assert all("_map_segments" in _names(node) for _, node in parts)


def test_check_sees_a_pandas_loop():
    """The check flags a mapInPandas + itertuples loop, a pandas import
    and a mapInArrow outside the emitter."""
    src = ("import pandas as pd\n"
           "def op(df):\n"
           "    def kern(it):\n"
           "        for pdf in it:\n"
           "            for r in pdf.itertuples():\n"
           "                yield pd.DataFrame([r])\n"
           "    return df.mapInPandas(kern, 'x long')\n"
           "def arrow(df):\n"
           "    return df.mapInArrow(lambda it: it, 'x long')\n")
    parts = [(getattr(st, "name", ""), st) for st in ast.parse(src).body]
    assert _offences("graphs", parts) == [
        "graphs.<module>: pandas", "graphs.<module>: pd",
        "graphs.op: itertuples", "graphs.op: mapInPandas", "graphs.op: pd",
        "graphs.arrow: mapInArrow"]
