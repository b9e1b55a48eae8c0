"""The benchmark's workloads: which engine calls each operation makes, what
input it reads and which DuckDB oracle checks its output.

Why each workload exists, which layer it stresses and which it bypasses,
and the layer split measured on a 4-core host are in ``README.md``.
"""

from __future__ import annotations

import contextlib
import os
import sys
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from unittest import mock

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from ecommerce_etl_pipeline_spark.pipelines import reference  # noqa: E402
from ecommerce_etl_pipeline_spark.plans import all_queries, pipelines_queries  # noqa: E402
from make_zipf import make_corpus  # noqa: E402


@dataclass(frozen=True)
class Op:
    """One operation of a pass: ``build`` constructs it through ``layer``
    ("plans" returns a DataFrame, "pipelines" a dict of warehouse tables),
    and the output is checked against the registered oracle ``oracle``."""

    name: str
    layer: str
    build: Callable
    oracle: str
    #: pipelines ops only: the registry's union twin that maps the DAG's
    #: tables onto the oracle's spine
    twin: Callable | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    #: (work_dir, seed, tiny) -> the directory holding the inputs, generated
    #: into work_dir when they come from the seed
    make_inputs: Callable[[str, int, bool], str]


def _query(name: str) -> Op:
    fn = all_queries()[name]
    return Op(name, "plans", fn, name)


def _dag(pipeline: str, twin: Callable, oracle: str) -> Op:
    return Op(pipeline, "pipelines", getattr(reference, pipeline), oracle, twin)


def _testdata(sf: str, tiny_sf: str):
    """The engine's testdata tables (``data/<sf>``, copied byte for byte
    from the deterministic set the DuckDB oracles are certified on; see
    ``data/SHA256SUMS``). Fixed input: the seed only orders the operations."""
    def inputs(work_dir: str, seed: int, tiny: bool) -> str:
        return os.path.join(HERE, "data", tiny_sf if tiny else sf)

    return inputs


def _zipf(n_docs: int, tiny_docs: int):
    def inputs(work_dir: str, seed: int, tiny: bool) -> str:
        data_dir = os.path.join(work_dir, "data")
        os.makedirs(data_dir)
        corpus = make_corpus(tiny_docs if tiny else n_docs, seed)
        pq.write_table(corpus, os.path.join(data_dir, "documents.parquet"))
        return data_dir

    return inputs


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "warehouse_refresh",
            (
                _dag("sales_pipeline", pipelines_queries.sales_warehouse_union,
                     "pl_sales_warehouse"),
                _dag("customer_pipeline", pipelines_queries.customer_warehouse_union,
                     "pl_customer_warehouse"),
                _dag("product_pipeline", pipelines_queries.product_warehouse_union,
                     "pl_product_warehouse"),
                _dag("pricing_pipeline", pipelines_queries.pricing_warehouse_union,
                     "pl_pricing_warehouse"),
            ),
            _testdata("sf0.01", "sf0.001"),
        ),
        Workload(
            "neardup_zipf",
            tuple(_query(q) for q in (
                "dd_minhash_pairs", "dd_simhash_pairs", "txt_quality_scores",
            )),
            _zipf(5_000, 300),
        ),
    )
}


@contextlib.contextmanager
def pipeline_returns(op: Op, tables: dict) -> Iterator[None]:
    """Make ``op.twin`` map ``tables`` (the warehouse tables read back from
    the catalog) instead of re-running the DAG. The twins call the DAG
    through ``pipelines.reference`` (and the sales twin through its own
    module import), so both names are redirected."""
    def replay(spark, sf_dir, **kwargs):
        return tables

    with contextlib.ExitStack() as stack:
        stack.enter_context(mock.patch.object(reference, op.name, replay))
        if hasattr(pipelines_queries, op.name):
            stack.enter_context(mock.patch.object(pipelines_queries, op.name, replay))
        yield
