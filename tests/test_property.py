"""Property-based differential tests (hypothesis): random unicode text
through the kernel vs the reference arborform pipeline, exact tuple
equality. Complements the fixed-fixture matrices — these hunt for
boundary behaviors nobody thought to enumerate (zero-width matches,
surrogate-adjacent chars, all-separator inputs, nested group collapse).

Pure-python kernel only (no Spark session): each example runs in
microseconds, so hypothesis can afford real example counts.
"""

import regex
from hypothesis import given, settings, strategies as st

from pawpaw_spark.kernel import segment_text
from pawpaw_spark.rules import BoundaryRetention, RuleSet, extract, gaps, split

from .conftest import kernel_tuples, oracle_tree_tuples

# surrogate-free text; lean on ASCII word/space/digit structure plus a
# sprinkle of multibyte chars so offsets are exercised in both regimes
TEXT = st.text(
    alphabet=st.sampled_from(list("ab z09.,!?\n\t-_é漢 ")), max_size=80
)

# derandomized: the differential property either holds or it doesn't —
# a nondeterministic example stream would make the gate suite flaky
SETTINGS = dict(max_examples=150, deadline=None, derandomize=True)

EXTRACT_PAT = r"(?P<word>[^\W\d_]+)|(?P<num>\d+(?:\.\d+)?)"
NESTED_PAT = r"(?P<pair>(?P<w>[^\W\d_]+)\s+(?P<n>\d+))"


def _ref_extract(pawpaw, text: str, pat: str):
    itor = pawpaw.arborform.Extract(regex.compile(pat, regex.DOTALL))
    root = pawpaw.Ito(text)
    return [*itor(root)]


class TestExtractProperty:
    @given(text=TEXT)
    @settings(**SETTINGS)
    def test_flat_alternation(self, pawpaw_ref, text):
        ref = oracle_tree_tuples(_ref_extract(pawpaw_ref, text, EXTRACT_PAT))
        got = kernel_tuples(segment_text(text, RuleSet.of(extract(EXTRACT_PAT))))
        assert got == ref, text

    @given(text=TEXT)
    @settings(**SETTINGS)
    def test_nested_groups(self, pawpaw_ref, text):
        ref = oracle_tree_tuples(_ref_extract(pawpaw_ref, text, NESTED_PAT))
        got = kernel_tuples(segment_text(text, RuleSet.of(extract(NESTED_PAT))))
        assert got == ref, text


class TestSplitProperty:
    @given(
        text=TEXT,
        retention=st.sampled_from(list(BoundaryRetention)),
        pat=st.sampled_from([r"\s+", r"[.,!?]", r"-"]),
    )
    @settings(**SETTINGS)
    def test_boundary_retention(self, pawpaw_ref, text, retention, pat):
        Ito, arborform = pawpaw_ref.Ito, pawpaw_ref.arborform
        ref_map = {
            BoundaryRetention.NONE: arborform.Split.BoundaryRetention.NONE,
            BoundaryRetention.LEADING: arborform.Split.BoundaryRetention.LEADING,
            BoundaryRetention.TRAILING: arborform.Split.BoundaryRetention.TRAILING,
            BoundaryRetention.ALL: arborform.Split.BoundaryRetention.ALL,
        }
        itor = arborform.Split(
            regex.compile(pat, regex.DOTALL),
            boundary_retention=ref_map[retention],
            desc="part",
        )
        ref = oracle_tree_tuples([*itor(Ito(text))])
        got = kernel_tuples(
            segment_text(text, RuleSet.of(split(pat, desc="part", retention=retention)))
        )
        assert got == ref, (text, retention, pat)


class TestGapsProperty:
    @given(text=TEXT, pat=st.sampled_from([r"\s+", r"\d+", r"[^\W\d_]+"]))
    @settings(**SETTINGS)
    def test_complement(self, pawpaw_ref, text, pat):
        Ito = pawpaw_ref.Ito
        src = Ito(text)
        non_gaps = [Ito(text, *m.span()) for m in regex.finditer(pat, text, flags=regex.DOTALL)]
        ref = {
            (i.start, i.stop, i.desc, None)
            for i in Ito.from_gaps(src, non_gaps, desc="gap")
        }
        got = kernel_tuples(segment_text(text, RuleSet.of(gaps(pat, desc="gap"))))
        assert got == ref, (text, pat)


class TestStrSuiteProperty:
    """Pure-python reimplementation check for the span-split algorithms
    the Column versions encode (same fold logic, python reference =
    str itself)."""

    @given(
        text=st.text(alphabet=st.sampled_from(list("ab ,\t\n")), max_size=40),
        start=st.integers(0, 10),
        sub=st.sampled_from(["a", "ab", ",", "aa"]),
    )
    @settings(**SETTINGS)
    def test_nonoverlapping_count_find(self, text, start, sub):
        stop = len(text)
        start = min(start, stop)
        seg = text[start:stop]
        # leftmost non-overlapping discipline of the _sep_positions fold
        positions, i = [], 0
        while True:
            j = seg.find(sub, i)
            if j < 0:
                break
            positions.append(j)
            i = j + len(sub)
        assert len(positions) == seg.count(sub)
        parts = []
        prev = 0
        for p in positions:
            parts.append(seg[prev:p])
            prev = p + len(sub)
        parts.append(seg[prev:])
        assert parts == seg.split(sub)


class TestImageHeaderProperties:
    """The header parser must never raise — any byte blob yields a
    3-tuple or None — and must round-trip every generator output."""

    @given(blob=st.binary(max_size=64))
    @settings(**SETTINGS)
    def test_never_raises_on_arbitrary_bytes(self, blob):
        from pawpaw_spark.operators.multimodal import parse_image_header

        r = parse_image_header(blob)
        assert r is None or (len(r) == 3 and r[1] > 0 and r[2] > 0)

    @given(
        blob=st.binary(min_size=2, max_size=64),
        sig=st.sampled_from(
            [b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"GIF89a", b"GIF87a", b"BM"]
        ),
    )
    @settings(**SETTINGS)
    def test_never_raises_with_valid_signature_prefix(self, blob, sig):
        """Adversarial case: real signature, garbage body."""
        from pawpaw_spark.operators.multimodal import parse_image_header

        r = parse_image_header(sig + blob)
        assert r is None or (len(r) == 3 and r[1] > 0 and r[2] > 0)

    @given(
        fmt=st.sampled_from(["png", "jpeg", "gif", "bmp"]),
        w=st.integers(1, 65535),
        h=st.integers(1, 65535),
        cut=st.integers(0, 80),
    )
    @settings(**SETTINGS)
    def test_roundtrip_and_truncation_totality(self, fmt, w, h, cut):
        from pawpaw_spark.operators.multimodal import (
            make_image_bytes, parse_image_header,
        )

        full = make_image_bytes(fmt, w, h)
        assert parse_image_header(full) == (fmt, w, h)
        # every truncation parses to the true dims or None, never junk
        r = parse_image_header(full[: min(cut, len(full))])
        assert r in (None, (fmt, w, h))
