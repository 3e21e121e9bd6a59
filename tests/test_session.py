"""Session sizing follows the host it runs on."""

from __future__ import annotations

import os
import re

from real_time_iot_data_engineering_pipeline_spark.session import (
    _default_driver_memory,
)


def test_default_driver_memory_fits_the_host():
    """The default driver heap leaves at least half the physical RAM to the
    OS and the Python workers, and stops at the 16g the 10x fixture needs."""
    gib = int(re.fullmatch(r"(\d+)g", _default_driver_memory()).group(1))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    assert 1 <= gib <= 16
    assert gib <= max(1.0, ram_gib / 2)
    if ram_gib >= 32:
        assert gib == 16
