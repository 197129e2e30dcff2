"""Spark-free guard: each graph decision is written once."""

import re

import shippai_knowledge_etl_spark.operators.graph as graph_ops
import shippai_knowledge_etl_spark.queries.dedup as dedup_queries
from tests.source_scan import masked_code


def test_graph_decisions_have_one_home():
    """Outside comments and multi-line strings (docstrings, oracles):
    operators/graph.py canonicalizes undirected edges only in
    ``_undirected``, and queries/dedup.py builds the (id*7+1) % n link
    graph only in ``_link_graph`` and in ``graph_anchor_text``, whose
    union carries an anchor column per side."""
    canon = re.findall(r'least\("src",\s*"dst"\)', masked_code(graph_ops.__file__))
    assert len(canon) == 1, canon

    code = masked_code(dedup_queries.__file__)
    homes = []
    for m in re.finditer(r"\*\s*7\s*\+\s*1\)\s*%\s*n\b", code):
        homes.append(re.findall(r"^def (\w+)", code[: m.start()], re.M)[-1])
    assert homes == ["_link_graph", "graph_anchor_text"], homes
