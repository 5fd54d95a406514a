"""Same seed -> identical bytes; another seed -> different data of the
same shape and size."""

import os

import pyarrow.parquet as pq
import pytest

import gen


def _write_all(seed: int, d: str) -> dict[str, str]:
    os.makedirs(d, exist_ok=True)
    paths = {
        "inventory_boot": f"{d}/inv_boot.jsonl",
        "inventory": f"{d}/inv.jsonl",
        "pos": f"{d}/pos.csv",
        "web": f"{d}/web.json",
        "crm": f"{d}/crm.json",
        "docs": f"{d}/docs.parquet",
        "emb": f"{d}/emb.parquet",
    }
    gen.write_inventory_batch(seed, -1, paths["inventory_boot"])
    gen.write_inventory_batch(seed, 4, paths["inventory"])
    gen.write_pos_batch(seed, 4, paths["pos"])
    gen.write_web_tick(seed, 4, [paths["web"]])
    gen.write_crm_tick(seed, 4, paths["crm"])
    gen.write_corpus(seed, paths["docs"], paths["emb"])
    return paths


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _rows(path: str) -> int:
    if path.endswith(".parquet"):
        return pq.ParquetFile(path).metadata.num_rows
    with open(path) as f:
        return sum(1 for _ in f)


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    return {tag: _write_all(seed, str(root / tag)) for tag, seed in (("a", 7), ("a2", 7), ("b", 8))}


@pytest.mark.parametrize("kind", ["inventory_boot", "inventory", "pos", "web", "crm", "docs", "emb"])
def test_same_seed_same_bytes(files, kind):
    assert _bytes(files["a"][kind]) == _bytes(files["a2"][kind])


@pytest.mark.parametrize("kind", ["inventory_boot", "inventory", "pos", "web", "crm", "docs", "emb"])
def test_other_seed_other_data_same_size(files, kind):
    a, b = files["a"][kind], files["b"][kind]
    assert _bytes(a) != _bytes(b)
    assert _rows(a) == _rows(b)
    assert abs(os.path.getsize(a) - os.path.getsize(b)) <= 0.05 * os.path.getsize(a)


def test_batches_are_newer_than_their_predecessors():
    """The inventory check relies on it: last batch wins == latest row wins."""
    prev = gen.inventory_batch(3, -1)["last_updated"].max()
    for i in range(4):
        cur = gen.inventory_batch(3, i)["last_updated"]
        assert cur.min() > prev
        prev = cur.max()


def test_planted_duplicates():
    docs = gen.documents(5).column("text").to_pylist()
    exact_dups = len(docs) - len(set(docs))
    assert exact_dups >= int(gen.DOCS * gen.DOC_EXACT_DUP) * 0.8
    emb = gen.embeddings(5).column("embedding").to_pylist()
    assert len(emb) - len({tuple(v) for v in emb}) >= int(gen.EMB_ROWS * gen.EMB_DUP) * 0.8
