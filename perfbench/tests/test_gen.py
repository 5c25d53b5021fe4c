import hashlib
import os

import numpy as np

import gen


def _digests(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_inputs(7, a, n_deltas=3)
    gen.write_inputs(7, b, n_deltas=3)
    gen.write_inputs(8, c, n_deltas=3)
    da, db, dc = _digests(a), _digests(b), _digests(c)
    assert da == db
    assert "lineitem.parquet" in da and "store/delta_0003.parquet" in da
    assert da["lineitem.parquet"] != dc["lineitem.parquet"]


def test_subset_keeps_foreign_keys_consistent():
    t = gen.subset(3)
    cust = set(t["customer"]["c_custkey"].to_pylist())
    orders = set(t["orders"]["o_orderkey"].to_pylist())
    parts = set(t["part"]["p_partkey"].to_pylist())
    supps = set(t["supplier"]["s_suppkey"].to_pylist())
    assert set(t["orders"]["o_custkey"].to_pylist()) <= cust
    li = t["lineitem"]
    assert set(li["l_orderkey"].to_pylist()) <= orders
    assert set(li["l_partkey"].to_pylist()) <= parts
    assert set(li["l_suppkey"].to_pylist()) <= supps
    # about 95% of each key space survives, and supplier-id parts all do
    assert 0.9 < len(cust) / gen.N_CUSTOMER < 0.99
    assert set(range(gen.N_SUPPLIER)) <= parts


def test_one_row_group_per_table(tmp_path):
    import pyarrow.parquet as pq

    gen.write_inputs(1, str(tmp_path))
    for name in ("lineitem", "orders", "documents"):
        assert pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_row_groups == 1


def test_deltas_retract_only_live_rows():
    si = gen.store_input(gen.subset(2)["orders"], 2, n_deltas=5)
    born = si.rows["born"].to_numpy()
    died = si.rows["died"].to_numpy()
    assert (died > born).all()
    for k in range(1, 6):
        d = si.delta(k)
        ops = d["op"].to_pylist()
        assert ops.count("+") == gen.DELTA_PLUS and ops.count("-") == gen.DELTA_MINUS
    assert len(np.unique(si.rows["src"].to_numpy())) == si.rows.num_rows
