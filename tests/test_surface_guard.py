"""The product surface, declared (static; no Spark needed).

Library code earns its place by being reachable from the product: the
registered queries, the public entry points of `streaming/` and
`serving/`, the query contract (`__spark_entry__.py`) and the
benchmark (`perfbench/`).  Every other top-level def or class under
`classic_fcd_spark/` is either reached from a `DECLARED` entry, whose
one-line reason says who uses it, or it is dead and goes.

Reachability is by NAME over the `ast`: a def reaches every top-level
def whose name it mentions (a Name, an attribute, an imported alias).
The roots are the product entries above, every name the entry files
use (identifier-like string literals included, since perfbench
resolves workloads by name) and each library module's top-level
statements (decorators, default arguments, module constants; imports
alone are re-exports, not uses).  Name matching over-approximates, so
the guard can miss dead code that shares a name with live code; it
flags a def the product calls only when the call goes through a name
built at run time.

A `DECLARED` key is `"module:def"` or a whole `"module"` (every def in
it shares the reason), with the module dotted from the package root.
An entry goes stale, and fails the test, when its def no longer exists
or the product roots already reach it.
"""

from __future__ import annotations

import ast
import pathlib
import shutil

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "classic_fcd_spark"
ENTRY_FILES = (ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").glob("*.py")))
PUBLIC_PACKAGES = ("streaming", "serving")

_DEDUP_TESTS = "tests/test_dedup_similarity.py"
_FCD_TESTS = "tests/test_fcd_pipeline.py"

DECLARED: dict[str, str] = {
    # scalar reference helpers, each tested against its reference behaviour
    "functions.bech32": "reference address helpers (valoper, pubkey), tests/test_functions.py",
    "functions.common": "reference denom helpers, tests/test_functions.py",
    "functions.compat": "reference compat shims + DuckDB twins, tests/test_compat.py",
    "functions.math": "reference decimal math helpers, tests/test_functions.py",
    "functions.parsemsg": "reference tx-message parser + DuckDB twin, tests/test_parsemsg.py",
    "functions.text:pii_counts": "PII detection, tests/test_pii.py",
    "functions.text:redact_pii": "PII redaction, tests/test_pii.py",
    "functions.text:duck_redact_pii": "DuckDB twin of redact_pii, tests/test_pii.py",
    "functions.text:duck_linear_quality_score": "DuckDB twin of linear_quality_score, tests/test_pii.py",
    "functions.text:with_canonical_url": "URL canonicalization, tests/test_canonical_url.py",
    "functions.text:filter_blocked_domains": "domain blocklist, tests/test_canonical_url.py",
    "multimodal.binary_ops": "media decode/resize/header stubs, tests/test_multimodal.py",
    # curation funnel and training layouts
    "pipeline.curation": "curation funnel, tests/test_curation.py + tests/test_end_to_end_pipeline.py",
    "operators.decontamination": "curation funnel decontamination, tests/test_decontamination.py",
    "operators.quality_model:train_linear_quality": "curation funnel quality model, tests/test_quality_model.py",
    "operators.dedup:remove_common_paragraphs": f"curation funnel paragraph dedup, {_DEDUP_TESTS}",
    "operators.spans:duck_remove_duplicated_spans_sql": "DuckDB twin of remove_duplicated_spans, tests/test_spans.py",
    "operators.packing": "training layout: sequence packing, tests/test_packing_sampling.py",
    "operators.sampling": "training layout: mixture sampling, tests/test_packing_sampling.py",
    "operators.bpe": "bench.py bpe_train_50 (SPARK_GRAFT_BENCH_TRAIN=1) + tests/test_bpe.py",
    "sources.layout": "training-shard and time-partition layouts, tests/test_layout.py",
    "sources.bucketed:write_bucketed": "bucketed table writer, tests/test_bucketed.py",
    "pipeline.daily_gold": "daily gold batch job, tests/test_daily_gold.py + tests/test_e2e_day.py",
    "pipeline.medallion:block_rewards_silver": f"block rewards silver, {_FCD_TESTS}",
    # operator variants with their own tests
    "operators.dedup:choose_lsh_bands": f"LSH band planner, {_DEDUP_TESTS}",
    "operators.dedup:simhash32_sql": f"32-bit simhash SQL, {_DEDUP_TESTS}",
    "operators.dedup:simhash_component_edges": f"simhash component edges, {_DEDUP_TESTS}",
    "operators.pagination:keyset_page": "keyset pagination, tests/test_operators.py",
    "operators.windows:time_weighted_avg": "time-weighted average, tests/test_operators.py",
    "operators.sketches:source_sketch_stats": "per-source sketches, tests/test_sketches.py",
    "sources.fixtures:gen_account_tx_skewed": "skewed fixture, tests/test_skewjoin.py + scripts/skew_spread.py",
    # unregistered queries: bench.py workloads and in-test oracles
    "queries.core:revenue_by_nation": "bench.py workload + in-test oracle at tests/test_operators.py",
    "queries.dedup:duplicated_spans_q": "bench.py workload + in-test oracle at tests/test_spans.py",
    "queries.dedup:ngram_jaccard_pairs": f"bench.py workload + in-test oracle at {_DEDUP_TESTS}",
    "queries.dedup:simhash_docs": f"bench.py workload + in-test oracle at {_DEDUP_TESTS}",
    "queries.similarity:ann_lsh_buckets": f"bench.py workload + in-test oracle at {_DEDUP_TESTS}",
    "queries.similarity:ann_topk_bruteforce": f"bench.py workload + in-test oracle at {_DEDUP_TESTS}",
    "queries.similarity:embedding_topk_pairs": "bench.py workload + in-test oracle at tests/test_embedding_topk.py",
    "queries.text:bm25_search": "bench.py workload + in-test oracle at tests/test_bm25.py",
    "queries.text:text_features": "bench.py workload + in-test oracle at tests/test_text_queries.py",
    "queries.text:token_stats_by_source": "bench.py workload + in-test oracle at tests/test_text_queries.py",
    "queries.fcd:fcd_avg_staking_daily": f"bench.py extra (plan audit) + in-test oracle at {_FCD_TESTS}",
    "queries.fcd:fcd_cumulative_rewards": f"bench.py extra (plan audit) + in-test oracle at {_FCD_TESTS}",
    "queries.fcd:fcd_staking_view": f"bench.py extra + in-test oracle at {_FCD_TESTS}",
    "queries.fcd:fcd_tx_by_hash": f"bench.py workload + in-test oracle at {_FCD_TESTS}",
    "queries.fcd:fcd_delegator_weights": f"in-test oracle at {_FCD_TESTS}",
    "queries.fcd:fcd_market_cap": f"in-test oracle at {_FCD_TESTS}",
    "queries.fcd:fcd_votes_page": f"in-test oracle at {_FCD_TESTS}",
}


def _names(nodes, strings: bool = False) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.alias):
                out.add(x.name.rsplit(".", 1)[-1])
            elif strings and isinstance(x, ast.Constant) and isinstance(x.value, str):
                if x.value.isidentifier():
                    out.add(x.value)
    return out


def _registered(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


class Surface:
    """Every top-level def of a package copy, the names each one uses,
    and the product roots."""

    def __init__(self, pkg: pathlib.Path, entry_files=ENTRY_FILES):
        self.uses: dict[str, set[str]] = {}  # "module:def" -> names
        self.modules: dict[str, list[str]] = {}  # module -> its def keys
        self.by_name: dict[str, set[str]] = {}
        top: set[str] = _names([ast.parse(p.read_text()) for p in entry_files], strings=True)
        roots: set[str] = set()
        for path in sorted(pkg.rglob("*.py")):
            mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
            keys = self.modules.setdefault(mod, [])
            for node in ast.parse(path.read_text()).body:
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    top |= _names([node])
                    continue
                key = f"{mod}:{node.name}"
                keys.append(key)
                self.uses[key] = _names([node])
                self.by_name.setdefault(node.name, set()).add(key)
                # evaluated at import: decorators, defaults, bases
                evaluated = list(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    evaluated += node.bases + [k.value for k in node.keywords]
                else:
                    evaluated += node.args.defaults + [d for d in node.args.kw_defaults if d]
                top |= _names(evaluated)
                public = mod.split(".")[0] in PUBLIC_PACKAGES and not node.name.startswith("_")
                if public or _registered(node):
                    roots.add(key)
        self.roots = roots | self._keys(top)

    def _keys(self, names) -> set[str]:
        return {k for n in names for k in self.by_name.get(n, ())}

    def declared_keys(self, key: str) -> list[str]:
        if ":" in key:
            return [key] if key in self.uses else []
        return self.modules.get(key, [])

    def reach(self, extra=()) -> set[str]:
        seen: set[str] = set()
        stack = [*self.roots, *extra]
        while stack:
            k = stack.pop()
            if k not in seen:
                seen.add(k)
                stack.extend(self._keys(self.uses[k]))
        return seen

    def unreached(self, declared: dict[str, str]) -> list[str]:
        extra = {k for d in declared for k in self.declared_keys(d)}
        return sorted(set(self.uses) - self.reach(extra))

    def stale(self, declared: dict[str, str]) -> list[str]:
        product = self.reach()
        return sorted(
            d for d in declared
            if not self.declared_keys(d) or set(self.declared_keys(d)) <= product
        )


class TestSurfaceGuard:
    def test_every_def_is_reached_or_declared(self):
        unreached = Surface(PKG).unreached(DECLARED)
        assert unreached == [], (
            "no product root reaches these defs: delete them, or add a "
            f"DECLARED entry whose reason names the caller: {unreached}"
        )

    def test_no_stale_declarations(self):
        stale = Surface(PKG).stale(DECLARED)
        assert stale == [], (
            "DECLARED entries that name nothing or that the product "
            f"already reaches: {stale}"
        )

    def test_every_declaration_has_a_reason(self):
        assert all(reason.strip() for reason in DECLARED.values())


class TestSurfaceGuardGuard:
    """Guards the guard: on a copy of the package, a planted unreached
    def and a planted stale declaration are both flagged."""

    def _copy(self, tmp_path) -> pathlib.Path:
        dst = tmp_path / "classic_fcd_spark"
        shutil.copytree(PKG, dst, ignore=shutil.ignore_patterns("__pycache__"))
        return dst

    def test_planted_unreached_def_is_flagged(self, tmp_path):
        pkg = self._copy(tmp_path)
        with open(pkg / "operators" / "lm.py", "a") as f:
            f.write("\n\ndef planted_unreached_scorer(docs):\n    return docs\n")
        assert Surface(pkg).unreached(DECLARED) == ["operators.lm:planted_unreached_scorer"]

    def test_planted_stale_declaration_is_flagged(self, tmp_path):
        pkg = self._copy(tmp_path)
        declared = {
            **DECLARED,
            "operators.lm:no_such_scorer": "gone",
            "operators.lm:score_trigram_prob": "reached by trigram_lm_scores",
        }
        assert Surface(pkg).stale(declared) == [
            "operators.lm:no_such_scorer",
            "operators.lm:score_trigram_prob",
        ]
