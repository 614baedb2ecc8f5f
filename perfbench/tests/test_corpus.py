import pyarrow.parquet as pq

from kgbench import corpus


def _inputs(seed):
    return corpus.make_inputs(seed, n_epochs=2, n_queries=3, n_deletes=2)


def test_same_seed_same_digest():
    assert _inputs(7).digest() == _inputs(7).digest()


def test_different_seed_different_digest():
    assert _inputs(7).digest() != _inputs(8).digest()


def test_window_shape():
    inp = _inputs(3)
    assert len(inp.base_convs) == corpus.WINDOW_CONVS
    # exactly one ~50x-long conversation per 40-conversation window
    assert sum(1 for c in inp.base_convs if c % 40 == 7) == 1
    lo, hi = corpus.WINDOW_TURNS
    assert lo <= len(inp.base_rows) <= hi
    # streamed conversations never overlap the base KG's
    streamed = {c for e in inp.epoch_convs for c in e}
    assert streamed.isdisjoint(inp.base_convs)
    assert all(len(e) == corpus.EPOCH_CONVS for e in inp.epoch_convs)
    # epochs hold no long conversation
    assert all(corpus.conv_length(c) < corpus.LONG_TURNS for e in inp.epoch_convs for c in e)
    base_ids = {f"conv{c:05d}" for c in inp.base_convs}
    assert set(inp.delete_targets) <= base_ids
    assert len(set(inp.delete_targets)) == len(inp.delete_targets)


def test_batch_window_shape():
    inp = corpus.make_inputs(5, n_convs=corpus.BATCH_CONVS, turns=corpus.BATCH_TURNS)
    assert len(inp.base_convs) == corpus.BATCH_CONVS
    assert sum(1 for c in inp.base_convs if c % 40 == 7) == corpus.BATCH_CONVS // 40
    lo, hi = corpus.BATCH_TURNS
    assert lo <= len(inp.base_rows) <= hi


def test_land_round_trips_and_cuts_at_conversations(tmp_path):
    rows = corpus.conv_rows(range(100, 110))
    path = corpus.land(rows, str(tmp_path / "t"), 4)
    files = sorted((tmp_path / "t").iterdir())
    assert 1 < len(files) <= 4
    seen = []
    for f in files:
        convs = pq.read_table(f).column("conv_id").to_pylist()
        seen.append(set(convs))
    for a in range(len(seen)):
        for b in range(a + 1, len(seen)):
            assert seen[a].isdisjoint(seen[b])
    back = pq.read_table(path).to_pylist()
    assert [(r["conv_id"], r["turn_idx"], r["text"], r["ts"]) for r in back] == [
        (r[0], r[1], r[3], r[5]) for r in rows
    ]


def test_file_bounds_cover_all_rows():
    ids = ["a"] * 5 + ["b"] * 1 + ["c"] * 7
    bounds = corpus._file_bounds(ids, 3)
    assert bounds[0][0] == 0 and bounds[-1][1] == len(ids)
    assert all(lo < hi for lo, hi in bounds)
    assert all(ids[lo] != ids[lo - 1] for lo, _ in bounds[1:])
