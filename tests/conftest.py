import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
# the reference implementation's source, checked out beside this repo; the
# differential tests read it and skip when it is absent
REFERENCE_SRC = Path(REPO_ROOT).parent / "reference" / "src" / "docling_ocr_qwen3vl"


@pytest.fixture(scope="session")
def spark():
    from docling_ocr_qwen3vl_spark.plans.session import build_session

    spark = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def requires_reference():
    """The reference source directory; skips the requesting test, naming
    the missing path, when the reference checkout is absent."""
    if not REFERENCE_SRC.is_dir():
        pytest.skip(f"reference source tree not found: {REFERENCE_SRC}")
    return REFERENCE_SRC
