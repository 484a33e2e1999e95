"""Property-based kernel tests (hypothesis) — invariants that golden
fixtures can't sweep."""

import numpy as np
from hypothesis import given, settings, strategies as st

from onnxocr_spark.imagecodec import encode_image, decode_image
from onnxocr_spark.kernels import (
    det_resize_for_test,
    sorted_boxes,
    ctc_greedy_decode,
    get_rotate_crop_image,
)
from onnxocr_spark.models.barcode import encode_bar, decode_bar_gray
from onnxocr_spark.models.charset import ASCII_STUB

SETTINGS = dict(max_examples=40, deadline=None)


@given(
    h=st.integers(1, 80),
    w=st.integers(1, 80),
    c=st.sampled_from([1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_codec_roundtrip(h, w, c, seed):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, c), dtype=np.uint8)
    out = decode_image(encode_image(img))
    np.testing.assert_array_equal(out, img)


@given(text=st.text(alphabet=st.sampled_from(ASCII_STUB), min_size=1, max_size=31))
@settings(**SETTINGS)
def test_barcode_roundtrip_any_printable(text):
    bar = encode_bar(text)
    assert decode_bar_gray(bar.astype(np.float64) / 255.0) == text


@given(h=st.integers(1, 1400), w=st.integers(1, 1400))
@settings(**SETTINGS)
def test_det_resize_invariants(h, w):
    img = np.zeros((h, w, 3), dtype=np.uint8)
    out, meta = det_resize_for_test(img)
    assert out is not None
    oh, ow = out.shape[:2]
    assert oh % 32 == 0 and ow % 32 == 0
    assert oh >= 32 and ow >= 32
    # max-side cap honored within one 32-rounding step
    assert max(oh, ow) <= 960 + 16
    assert meta[0] == h and meta[1] == w


@given(
    coords=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_sorted_boxes_is_permutation(coords):
    boxes = np.stack(
        [
            np.array(
                [[x, y], [x + 20, y], [x + 20, y + 10], [x, y + 10]],
                dtype=np.float32,
            )
            for x, y in coords
        ]
    )
    out = sorted_boxes(boxes)
    assert len(out) == len(boxes)
    got = sorted((b[0][0], b[0][1]) for b in out)
    exp = sorted((float(x), float(y)) for x, y in coords)
    assert got == exp
    # top-left ys are non-decreasing up to the 10px same-line tolerance
    ys = [b[0][1] for b in out]
    assert all(ys[i + 1] >= ys[i] - 10 for i in range(len(ys) - 1))


@given(
    seq=st.lists(st.integers(0, 7), min_size=1, max_size=30),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_ctc_decode_invariants(seq, seed):
    charset = list("abcdefg")
    rng = np.random.RandomState(seed)
    preds = np.zeros((1, len(seq), 8), dtype=np.float32)
    for t, i in enumerate(seq):
        preds[0, t, i] = 0.5 + 0.5 * rng.rand()
    [(text, conf)] = ctc_greedy_decode(preds, charset)
    assert 0.0 <= conf <= 1.0
    # no adjacent duplicates can survive unless separated by blank
    compact = []
    for i in seq:
        if not compact or compact[-1] != i:
            compact.append(i)
    expected = "".join(charset[i - 1] for i in compact if i != 0)
    assert text == expected


@given(
    x0=st.integers(0, 30),
    y0=st.integers(0, 30),
    w=st.integers(5, 40),
    h=st.integers(5, 40),
)
@settings(**SETTINGS)
def test_crop_shape_matches_box(x0, y0, w, h):
    img = np.zeros((100, 100, 3), dtype=np.uint8)
    box = np.array(
        [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]],
        dtype=np.float32,
    )
    crop = get_rotate_crop_image(img, box)
    ch, cw = crop.shape[:2]
    if h * 1.0 / w >= 1.5:
        ch, cw = cw, ch  # rot90 applied
    assert (ch, cw) == (h, w)


@given(
    h=st.integers(8, 60),
    w=st.integers(8, 60),
    x0=st.integers(0, 20),
    y0=st.integers(0, 20),
    bw=st.integers(2, 30),
    bh=st.integers(2, 30),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_axis_aligned_int_crop_is_exact_slice(h, w, x0, y0, bw, bh, seed):
    """The axis-aligned-integer fast path must equal a plain slice for
    ANY in-bounds rect — i.e. the cubic default never perturbs the
    overwhelmingly common case."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (max(h, y0 + bh), max(w, x0 + bw), 1), np.uint8)
    box = np.array(
        [[x0, y0], [x0 + bw, y0], [x0 + bw, y0 + bh], [x0, y0 + bh]],
        dtype=np.float32,
    )
    crop = get_rotate_crop_image(img, box)
    exp = img[y0 : y0 + bh, x0 : x0 + bw]
    if bh / bw >= 1.5:
        exp = np.rot90(exp)
    assert (crop == exp).all()


@given(
    n_pages=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_pages_container_roundtrip_property(n_pages, seed):
    from onnxocr_spark.operators.sources import (
        encode_pages_container, rasterize_pdf_bytes,
    )

    rng = np.random.RandomState(seed)
    pages = [
        rng.randint(0, 256,
                    (int(rng.randint(4, 60)), int(rng.randint(4, 60)),
                     int(rng.choice([1, 3]))), np.uint8)
        for _ in range(n_pages)
    ]
    out = rasterize_pdf_bytes(encode_pages_container(pages))
    assert len(out) == n_pages
    for a, b in zip(pages, out):
        assert a.shape == b.shape and (a == b).all()


@given(
    boundary=st.text(alphabet="abcdefghij0123456789", min_size=1,
                     max_size=12),
    payloads=st.lists(
        st.binary(min_size=0, max_size=64), min_size=1, max_size=4
    ),
    data=st.data(),
)
@settings(**SETTINGS)
def test_multipart_roundtrip_any_payload(boundary, payloads, data):
    """RFC 2046 framing property: ANY payload bytes — including bare
    '--boundary' occurrences and stray CRLFs — roundtrip through
    parse_multipart, except payloads containing the exact CRLF-anchored
    delimiter, which the RFC itself makes unframeable (the generator-
    side non-occurrence rule applies to that one sequence only)."""
    from onnxocr_spark.operators.sources import parse_multipart

    delim = b"\r\n--" + boundary.encode()
    # keep only RFC-frameable payloads: the full anchored delimiter must
    # not appear, and a payload may not END with a prefix of it that the
    # next real delimiter would complete into a longer match
    payloads = [
        p for p in payloads
        if delim not in p and not any(
            p.endswith(delim[:k]) for k in range(1, len(delim))
        )
    ]
    if not payloads:
        payloads = [data.draw(st.just(b"safe body"))]
    body = b""
    for i, p in enumerate(payloads):
        body += (
            f"--{boundary}\r\nContent-Disposition: form-data; "
            f'name="f{i}"; filename="file{i}.bin"\r\n\r\n'.encode()
            + p + b"\r\n"
        )
    body += f"--{boundary}--\r\n".encode()
    parts = parse_multipart(
        body, f"multipart/form-data; boundary={boundary}"
    )
    assert [(f"file{i}.bin", p) for i, p in enumerate(payloads)] == parts


# ------------------------------------------------ connected-component labeling
def _flood_fill_components(mask):
    """Naive oracle: BFS over 8-neighbour pixels → per component its
    (ymin, xmin) start, run-endpoint point set and row-major runs."""
    from collections import deque

    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    comps = []
    for y0 in range(h):
        for x0 in range(w):
            if not mask[y0, x0] or seen[y0, x0]:
                continue
            pixels = []
            seen[y0, x0] = True
            todo = deque([(y0, x0)])
            while todo:
                y, x = todo.popleft()
                pixels.append((y, x))
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ny, nx = y + dy, x + dx
                        if (0 <= ny < h and 0 <= nx < w and mask[ny, nx]
                                and not seen[ny, nx]):
                            seen[ny, nx] = True
                            todo.append((ny, nx))
            pixels.sort()
            runs = []
            for y, x in pixels:
                if runs and runs[-1][0] == y and runs[-1][2] == x:
                    runs[-1] = (y, runs[-1][1], x + 1)
                else:
                    runs.append((y, x, x + 1))
            points = {(float(s), float(y)) for y, s, _ in runs} | {
                (float(e - 1), float(y)) for y, _, e in runs}
            comps.append((pixels[0], points, runs))
    return sorted(comps, key=lambda c: c[0])


def _assert_labeling_matches_oracle(mask):
    from onnxocr_spark.kernels.dbpostprocess import (
        connected_components,
        connected_components_with_runs,
    )

    got = connected_components_with_runs(mask)
    want = _flood_fill_components(mask)
    assert len(got) == len(want)
    for (pts, runs), (start, points, exp_runs) in zip(got, want):
        assert pts.dtype == np.float32 and pts.shape == (2 * len(runs), 2)
        assert (runs[0][0], runs[0][1]) == start
        assert {tuple(p) for p in pts.tolist()} == points
        assert runs == exp_runs
    assert [p.tolist() for p in connected_components(mask)] == [
        p.tolist() for p, _ in got]


@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    density=st.floats(0.05, 0.95),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_labeling_matches_flood_fill_random(h, w, density, seed):
    rng = np.random.RandomState(seed)
    _assert_labeling_matches_oracle(rng.random_sample((h, w)) < density)


@given(
    h=st.integers(1, 20),
    w=st.integers(2, 20),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_labeling_runs_touching_frame_columns(h, w, seed):
    """Runs that start in column 0 or end in column W−1 — the cells the
    boundary scan pads on each side."""
    rng = np.random.RandomState(seed)
    mask = rng.random_sample((h, w)) < 0.4
    mask[:, 0] = rng.random_sample(h) < 0.7
    mask[:, -1] = rng.random_sample(h) < 0.7
    _assert_labeling_matches_oracle(mask)


@given(
    n=st.integers(1, 16),
    step=st.integers(2, 4),
    shift=st.integers(0, 3),
    anti=st.booleans(),
)
@settings(**SETTINGS)
def test_labeling_diagonal_only_contacts(n, step, shift, anti):
    """Pixels that touch only at corners: diagonal lines and a
    checkerboard are single 8-connected components."""
    diag = np.zeros((n, n + shift), dtype=bool)
    idx = np.arange(n)
    diag[idx, (n - 1 - idx if anti else idx) + shift] = True
    _assert_labeling_matches_oracle(diag)
    board = (np.add.outer(np.arange(n), np.arange(n + shift)) % 2) == 0
    _assert_labeling_matches_oracle(board)
    # diagonal pairs separated by `step`-1 empty columns stay separate
    sparse = np.zeros((n, n * step), dtype=bool)
    sparse[idx, idx * step] = True
    _assert_labeling_matches_oracle(sparse)


@given(n=st.integers(1, 40), seed=st.integers(0, 2**31 - 1))
@settings(**SETTINGS)
def test_labeling_degenerate_shapes(n, seed):
    rng = np.random.RandomState(seed)
    for mask in (
        np.zeros((n, n), dtype=bool),
        np.ones((n, n), dtype=bool),
        rng.random_sample((1, n)) < 0.5,
        rng.random_sample((n, 1)) < 0.5,
        np.ones((1, n), dtype=bool),
        np.ones((n, 1), dtype=bool),
    ):
        _assert_labeling_matches_oracle(mask)
