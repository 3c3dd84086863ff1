"""Round-trip property tests for the postings block codecs.

Modeled on the reference's BasePostingsFormatTestCase pattern
(`test-framework/.../BasePostingsFormatTestCase.java:102-126`): random
monotone docID lists at boundary sizes × freq distributions, assert
encode/decode identity. Seeded via hypothesis + fixed numpy seeds.
"""

import numpy as np
import pytest

from lucene_solr_spark.functions.codec import (
    BLOCK_SIZE, decode_block, decode_block_payloads, encode_block_payloads,
    encode_for, encode_pfor, encode_vbyte_tail, vbyte_decode, vbyte_encode,
    vbyte_encode_batch,
)
from lucene_solr_spark.functions.impacts import dominates, skyline

SIZES = [1, 2, 127, 128]
rng = np.random.default_rng(42)


def test_vbyte_roundtrip():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31 - 1, 2**40])
    assert np.array_equal(vbyte_decode(vbyte_encode(vals), len(vals)), vals)
    buf, off = vbyte_encode_batch(vals)
    assert buf.tobytes() == vbyte_encode(vals)
    assert [buf[off[i]:off[i + 1]].tobytes() for i in range(len(vals))] == \
        [vbyte_encode([v]) for v in vals]


def test_vbyte_encode_batch_rejects_negative():
    for enc in (vbyte_encode, vbyte_encode_batch):
        with pytest.raises(ValueError, match="non-negative"):
            enc(np.array([-5, 7]))


@pytest.mark.parametrize("dist", ["all1", "zipf", "maxint", "mixed"])
def test_for_pfor_roundtrip_full_block(dist):
    for _ in range(20):
        if dist == "all1":
            v = np.ones(BLOCK_SIZE, dtype=np.int64)
        elif dist == "zipf":
            v = rng.zipf(1.5, BLOCK_SIZE).astype(np.int64)
        elif dist == "maxint":
            v = np.full(BLOCK_SIZE, 2**31 - 1, dtype=np.int64)
        else:
            v = rng.integers(1, 100, BLOCK_SIZE)
            v[rng.integers(0, BLOCK_SIZE, 3)] = 2**30  # force exceptions
        for enc in (encode_for, encode_pfor):
            blob = enc(v)
            np.testing.assert_array_equal(decode_block(blob, BLOCK_SIZE), v)


def test_pfor_exceptions_shrink_payload():
    v = np.ones(BLOCK_SIZE, dtype=np.int64)
    v[[3, 77, 127]] = [2**20, 2**19, 2**18]
    pfor, plain = encode_pfor(v), encode_for(v)
    np.testing.assert_array_equal(decode_block(pfor, BLOCK_SIZE), v)
    assert len(pfor) < len(plain)


def test_const_block_is_tiny():
    v = np.ones(BLOCK_SIZE, dtype=np.int64)
    assert len(encode_for(v)) <= 3
    assert len(encode_pfor(v)) <= 3


@pytest.mark.parametrize("n", [1, 2, 5, 127, 128, 129, 256, 259, 1000, 100_000])
def test_posting_list_roundtrip(n):
    docs = np.sort(rng.choice(10 * n + 10, size=n, replace=False)).astype(np.int64)
    freqs = rng.zipf(1.3, n).astype(np.int64)
    base = -1  # Lucene block base semantics: delta from previous last doc
    prev_last = base
    out_docs, out_freqs = [], []
    for s in range(0, n, BLOCK_SIZE):
        blk_docs = docs[s:s + BLOCK_SIZE]
        blk_freqs = freqs[s:s + BLOCK_SIZE]
        db, fb = encode_block_payloads(blk_docs, blk_freqs, prev_last)
        dd, ff = decode_block_payloads(db, fb, len(blk_docs), prev_last)
        out_docs.append(dd)
        out_freqs.append(ff)
        prev_last = int(blk_docs[-1])
    np.testing.assert_array_equal(np.concatenate(out_docs), docs)
    np.testing.assert_array_equal(np.concatenate(out_freqs), freqs)


def test_skyline_properties():
    for _ in range(50):
        f = rng.integers(1, 1000, 64)
        n = rng.integers(0, 256, 64)
        sf, sn = skyline(f, n)
        assert dominates(sf, sn, f, n)
        # frontier is strictly increasing in both coords
        assert np.all(np.diff(sn) > 0)
        assert np.all(np.diff(sf) > 0)
        # every skyline point is an actual point
        pts = set(zip(f.tolist(), (n & 0xFF).tolist()))
        assert all((a, b) in pts for a, b in zip(sf.tolist(), sn.tolist()))


def test_pack_partition_blocks_match_reference():
    """The block writer against its references: every block's doc and
    freq blobs equal ``encode_block_payloads`` at the packer's base
    (block_id - 1), its impacts equal ``skyline`` (the pure-Python sweep
    for <= 8 postings included), and ``decode_blocks`` returns the input
    postings and positions. Runs of 1..300 postings over two grid cells."""
    import pandas as pd
    from lucene_solr_spark.index.builder import decode_blocks, pack_partition
    grid = 1000
    runs = [(0, "a", 1), (0, "b", 8), (0, "c", 128), (0, "d", 300),
            (1, "a", 2), (1, "b", 9), (1, "c", 127), (1, "e", 129)]
    r = np.random.default_rng(7)
    cols = {k: [] for k in ("doc_id", "term", "freq", "norm", "bucket")}
    pos_lists = []
    for cell, term, n in runs:
        if (cell, term) == (0, "c"):     # constant block: Δ=1, freq=1
            docs, freqs = np.arange(5, 5 + n), np.ones(n, dtype=np.int64)
        else:
            docs = np.sort(r.choice(grid, n, replace=False))
            freqs = r.integers(1, 6, n)
        cols["doc_id"] += (cell * grid + docs).tolist()
        cols["freq"] += freqs.tolist()
        cols["norm"] += r.integers(0, 12, n).tolist()
        cols["term"] += [term] * n
        cols["bucket"] += [cell] * n
        pos_lists += [np.sort(r.choice(400, f, replace=False)) for f in freqs]
    frame = pd.DataFrame(cols).assign(
        field="text",
        pos_blob=[vbyte_encode(np.diff(p, prepend=0)) for p in pos_lists],
        off_blob=None, pay_blob=None)

    blocks = pd.concat(list(pack_partition([frame], grid, True)),
                       ignore_index=True)
    want_sizes = [n2 for _, _, n in runs
                  for n2 in [BLOCK_SIZE] * (n // BLOCK_SIZE)
                  + ([n % BLOCK_SIZE] if n % BLOCK_SIZE else [])]
    assert blocks["doc_count"].tolist() == want_sizes
    start = 0
    for row in blocks.itertuples():
        sl = slice(start, start + row.doc_count)
        docs = np.asarray(cols["doc_id"][sl])
        freqs = np.asarray(cols["freq"][sl])
        assert (row.block_id, row.last_doc) == (docs[0], docs[-1])
        assert (row.doc_blob, row.freq_blob) == encode_block_payloads(
            docs, freqs, row.block_id - 1)
        sf, sn = skyline(freqs, np.asarray(cols["norm"][sl]))
        assert (list(row.imp_freqs), list(row.imp_norms)) == \
            (sf.tolist(), sn.tolist())
        start += row.doc_count
    assert start == len(frame)

    got = decode_blocks(blocks.to_dict("records"), ("pos",))
    for k, col in (("doc", "doc_id"), ("freq", "freq"), ("norm", "norm")):
        np.testing.assert_array_equal(got[k], cols[col])
    np.testing.assert_array_equal(got["pos"], np.concatenate(pos_lists))
