"""Solo BM25 has one route: the cold CLI default path, the operator and
the warm Searcher all score on the segment-colocated kernel and print the
brute-force oracle's answer."""

import json

from tests.oracle import OracleIndex


def test_cli_default_path_routes_identically(spark, index, index_dir,
                                             corpus_pdf, capsys):
    """`query --q` (the CLI default path), bm25_topk and Searcher.bm25
    return the oracle's top-k: doc ids and ranks exact, scores to 9
    decimals."""
    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.search import (Searcher,
                                                             bm25_topk)

    ordered = corpus_pdf.sort_values(["repo", "path"]).reset_index(drop=True)
    oracle = OracleIndex(list(zip(range(len(ordered)), ordered["path"],
                                  ordered["content"])), profile="code")
    want = [(d, round(s, 9)) for d, s in oracle.bm25_topk("merge sort", 8)]
    assert len(want) == 8

    assert main(["query", "--index", index_dir, "--q", "merge sort",
                 "--k", "8"]) == 0
    cli = [(d["doc_id"], round(d["score"], 9)) for d in
           (json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines())]
    op = [(r["doc_id"], round(r["score"], 9)) for r in
          bm25_topk(spark, index, "merge sort", k=8).collect()]
    with Searcher(spark, index, cache_postings=True, coalesce_to=4) as s:
        warm = [(r["doc_id"], round(r["score"], 9)) for r in
                s.bm25("merge sort", k=8).collect()]
    assert cli == op == warm == want
