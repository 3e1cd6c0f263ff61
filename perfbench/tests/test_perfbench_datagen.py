import pyarrow as pa

from perfbench.datagen import TABLES, build_tables


def test_same_seed_same_rows_other_seed_other_rows():
    a, b, c = build_tables(3, 0.001), build_tables(3, 0.001), build_tables(4, 0.001)
    assert list(a) == list(TABLES)
    assert all(a[t].equals(b[t]) for t in TABLES)
    assert not a["events"].equals(c["events"])


def test_tables_have_the_registry_column_types():
    t = build_tables(1, 0.001)
    assert t["lineitem"].num_rows == 6000 and t["events"].num_rows == 1000
    assert t["events"].schema.field("ts").type == pa.timestamp("us")
    assert t["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    docs = t["documents"].to_pydict()
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    assert sum(x.endswith(" dup") for x in docs["text"]) == len(docs["text"]) // 20
