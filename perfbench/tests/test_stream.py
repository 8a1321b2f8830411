import numpy as np
import pyarrow as pa

from perfbench import stream


def test_slices_keep_every_event_and_only_delay_some():
    n_files = 8
    events = pa.table({"event_id": np.arange(n_files * stream.EVENTS_PER_FILE)})
    parts = stream.slices(events, n_files, seed=3)
    ids = np.concatenate([p["event_id"].to_numpy() for p in parts])
    assert sorted(ids) == list(range(events.num_rows))
    late = 0
    for k, p in enumerate(parts):
        nominal = p["event_id"].to_numpy() // stream.EVENTS_PER_FILE
        assert (nominal <= k).all(), "an event may arrive late, never early"
        late += int((nominal < k).sum())
    assert 0 < late < events.num_rows * 0.2
    again = stream.slices(events, n_files, seed=3)
    assert all(a.equals(b) for a, b in zip(parts, again))
