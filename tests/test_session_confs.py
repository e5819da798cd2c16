"""Session-factory contract tests (no SparkSession needed).

`_norm_jvm_mem` (ADVICE r8): `spark.driver.memory` reads a bare number
as MiB but `-Xms1500` means 1500 BYTES, so interpolating the
`SPARK_GRAFT_DRIVER_MEM` env value verbatim into extraJavaOptions made
such a value fail JVM launch.  Bare digits must gain an 'm'; garbage
must fail loudly at the factory, not inside the JVM.
"""

from __future__ import annotations

import pytest

from realtime_data_pipeline_spark.session import _norm_jvm_mem


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("8g", "8g"),
        ("12G", "12g"),
        ("512m", "512m"),
        ("1048576k", "1048576k"),
        ("1500", "1500m"),  # the ADVICE case: bare digits are MiB
        (" 8g ", "8g"),
    ],
)
def test_norm_jvm_mem_accepts_and_normalizes(raw, want):
    assert _norm_jvm_mem(raw) == want


@pytest.mark.parametrize("raw", ["", "8gb", "g8", "-4g", "8.5g", "lots"])
def test_norm_jvm_mem_rejects_non_jvm_sizes(raw):
    with pytest.raises(ValueError):
        _norm_jvm_mem(raw)
