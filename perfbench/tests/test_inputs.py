import pyarrow.parquet as pq

from impala_hashset_count_spark.sources.tables import TABLES
from inputs import write_inputs


def _table(path, name):
    return pq.read_table(f"{path}/{name}.parquet")


def test_seed_moves_rows_and_row_groups_but_not_contents(tmp_path):
    a, b, a2 = tmp_path / "a", tmp_path / "b", tmp_path / "a2"
    rows = write_inputs(str(a), 0.05, seed=1)
    assert write_inputs(str(b), 0.05, seed=2) == rows
    write_inputs(str(a2), 0.05, seed=1)
    assert set(rows) == set(TABLES)  # every table the engine reads
    assert rows["lineitem"] == 300_000

    li_a, li_b = _table(a, "lineitem"), _table(b, "lineitem")
    assert li_a.schema == li_b.schema
    assert li_a.column("l_orderkey").to_pylist() != li_b.column("l_orderkey").to_pylist()
    key = [(c, "ascending") for c in li_a.column_names]
    assert li_a.sort_by(key).equals(li_b.sort_by(key))
    # same seed, same files
    assert _table(a2, "lineitem").equals(li_a)

    meta_a = pq.ParquetFile(f"{a}/lineitem.parquet").metadata
    meta_b = pq.ParquetFile(f"{b}/lineitem.parquet").metadata
    assert meta_a.num_row_groups == meta_b.num_row_groups
    sizes = lambda m: [m.row_group(i).num_rows for i in range(m.num_row_groups)]  # noqa: E731
    assert sizes(meta_a) != sizes(meta_b)


def test_documents_carry_near_duplicates(tmp_path):
    write_inputs(str(tmp_path), 0.01, seed=3)
    docs = _table(tmp_path, "documents").to_pydict()
    texts = set(docs["text"])
    near = [t for t in texts if t.endswith(" dup")]
    assert len(docs["text"]) == 500
    assert near and all(t[: -len(" dup")] in texts for t in near)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
