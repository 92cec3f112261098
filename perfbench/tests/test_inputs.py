"""Seeded input generation: the document deal and the board tables."""

from perfbench.inputs import (
    BOARD_DOCS, POOL_DOCS, _media_cost, board_documents, board_embeddings, deal, pool_docs,
)


def _cost(docs):
    return sum(_media_cost(s["media_ref"]) for d in docs for s in d["spans"]
               if s["kind"] == "media")


def test_deal_is_seeded_complete_and_balanced():
    docs = pool_docs(range(POOL_DOCS))
    a = deal(docs, 4, seed=1)
    assert a == deal(docs, 4, seed=1)
    assert a != deal(docs, 4, seed=2)
    ids = sorted(d["doc_id"] for c in a for d in c)
    assert ids == sorted(d["doc_id"] for d in docs)
    costs = [_cost(c) for c in a]
    # greedy least-loaded dealing: chunks differ by at most one document
    assert max(costs) - min(costs) <= max(_cost([d]) for d in docs)


def test_board_tables_are_seeded():
    a, b = board_documents(3), board_documents(3)
    assert a == b and a["text"] != board_documents(4)["text"]
    assert len(a["doc_id"]) == BOARD_DOCS
    # a near-duplicate of a near-duplicate carries "dup" twice
    assert all(10 <= len([w for w in t.split() if w != "dup"]) <= 100 for t in a["text"])
    assert any(t.endswith(" dup") for t in a["text"])
    assert a["n_chars"] == [len(t) for t in a["text"]]
    e = board_embeddings(3)
    norms = [float((v * v).sum()) for v in e["embedding"]]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)
