import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

REFERENCE_PATH = "/root/reference"


@pytest.fixture(scope="session")
def pawpaw_ref():
    """The reference implementation, imported in-process as the oracle:
    the checkout at REFERENCE_PATH when there is one, else any importable
    ``pawpaw`` (pip install pawpaw). Skips the test when neither is."""
    if os.path.isdir(REFERENCE_PATH) and REFERENCE_PATH not in sys.path:
        # APPEND, never prepend: the checkout ships a sibling ``tests``
        # package that must not shadow this suite's modules
        sys.path.append(REFERENCE_PATH)
    return pytest.importorskip("pawpaw", reason="reference pawpaw not available")


def reference_file(relpath: str) -> str:
    """Path of a file in the reference checkout (its demo inputs);
    skips the calling test when that file is absent, e.g. for a
    pip-installed pawpaw, which ships no ``docs/`` tree."""
    path = os.path.join(REFERENCE_PATH, relpath)
    if not os.path.isfile(path):
        pytest.skip(f"reference file not available: {relpath}")
    return path


@pytest.fixture(scope="session")
def spark():
    from pawpaw_spark.session import get_spark

    s = get_spark(app_name="pawpaw_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def oracle_tree_tuples(itos, parent_span=None):
    """Flatten pawpaw Ito trees to {(start, stop, desc, parent_span)}."""
    out = set()
    for ito in itos:
        out.add((ito.start, ito.stop, ito.desc, parent_span))
        out |= oracle_tree_tuples(ito.children, (ito.start, ito.stop))
    return out


def kernel_tuples(segs):
    """Flatten kernel SegRecords to the same tuple form (root excluded;
    segments whose parent is the root get parent_span=None)."""
    out = set()
    for seg_id, (start, stop, desc, parent_idx, depth, tag) in enumerate(segs):
        if seg_id == 0:
            continue
        if parent_idx == 0:
            ps = None
        else:
            p = segs[parent_idx]
            ps = (p[0], p[1])
        out.add((start, stop, desc, ps))
    return out
