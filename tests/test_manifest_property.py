"""Property tests for the lakehouse pruning kernels: the bisect
candidate selector must agree with the obvious O(files × keys) oracle
on ANY zone-map/key-set geometry (overlapping ranges, point ranges,
absent stats, negative keys, duplicate keys), and the audio/video
pure-Python kernels must hold their invariants on random inputs.

Driver-side only — no Spark session needed, so hypothesis can run
hundreds of examples cheaply.
"""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from data_pipeline_project_spark.sinks.manifest import _zone_map_candidates

_interval = st.tuples(st.integers(-1000, 1000), st.integers(0, 200)).map(
    lambda t: (t[0], t[0] + t[1])
)
_zone_maps = st.lists(
    st.one_of(
        _interval.map(lambda i: (f"f{i[0]}_{i[1]}", i[0], i[1])),
        st.just(("f_nostats", None, None)),
    ),
    max_size=60,
)
_keys = st.lists(st.integers(-1200, 1200), min_size=1, max_size=120)


@settings(max_examples=300, deadline=None)
@given(zone_maps=_zone_maps, keys=_keys)
def test_bisect_pruning_matches_naive_oracle(zone_maps, keys):
    naive = [
        f
        for f, mn, mx in zone_maps
        if mn is None or mx is None or any(mn <= k <= mx for k in keys)
    ]
    assert _zone_map_candidates(zone_maps, keys) == naive


@settings(max_examples=60, deadline=None)
@given(
    sig=st.lists(
        st.floats(-1.0, 1.0, allow_nan=False, width=32),
        min_size=1,
        max_size=600,
    ),
    gain=st.floats(0.05, 4.0, allow_nan=False),
)
# a short periodic signal tiles into 15 identical frames whose active
# bands tie the frame mean: without the tie margin, rounding flipped
# the same bit in every frame (15 bits)
@example(sig=[1.0, 0, 0, 0, 1, 1, 0, 0], gain=3.9375)
def test_audio_fingerprint_amplitude_invariant(sig, gain):
    """Scaling the whole signal changes no spectral-shape bit in exact
    arithmetic (every band energy scales by gain², including the frame
    mean). In FLOAT, a band energy sitting exactly on the mean is a
    knife-edge; _audio_fp60's relative tie margin reads it as 0 at
    every scale. The property keeps a small Hamming bound, which is
    what the banded near-dup search tolerates by design
    (audio_near_pairs radius)."""
    import numpy as np

    from data_pipeline_project_spark.operators.multimodal import _audio_fp60

    x = np.array(sig, dtype=np.float64)
    diff = _audio_fp60(x) ^ _audio_fp60(x * gain)
    assert bin(diff).count("1") <= 4, (sig, gain, bin(diff))


@settings(max_examples=60, deadline=None)
@given(
    dur=st.integers(0, 10**9),
    scale=st.integers(1, 10**6),
    w=st.integers(1, 8192),
    h=st.integers(1, 8192),
    codec=st.sampled_from([b"avc1", b"hvc1", b"vp09", b"av01"]),
    v1=st.booleans(),
)
def test_mp4_parse_roundtrip(dur, scale, w, h, codec, v1):
    """Whatever geometry we serialize, the parser reads back exactly —
    including 64-bit v1 durations and large dimensions."""
    from data_pipeline_project_spark.operators.multimodal import _parse_mp4_meta
    from tests.test_multimodal_codec import _make_mp4

    payload = _make_mp4(
        duration_ticks=dur, timescale=scale, w=w, h=h, codec=codec, mvhd_v1=v1
    )
    duration_s, n_tracks, width, height, got_codec = _parse_mp4_meta(payload)
    assert duration_s == dur / scale
    assert (n_tracks, width, height) == (1, w, h)
    assert got_codec == codec.decode()
