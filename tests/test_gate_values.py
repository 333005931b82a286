"""Value check of the gate queries built on the shared gate builders
(`_gate_engine`, `_encoded_images`, `_geocode_gate`, `_px_sql` and the
`_arr_sum` reductions in `__spark_entry__.py`).

Each query runs through `queries()` on the session fixture, and its result
must equal its `oracle_sql()` text run on DuckDB, compared by
`tools/check_oracle.compare`: column names, row count, dtype kind and exact
values.  None of these queries reads an sf table, so each gets an empty
directory as its sf_dir and DuckDB gets no views."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import compare, normalize  # noqa: E402

GATE_QUERIES = [
    # ImageEngine load gates
    "nbr_stats", "scl_hist", "slstr_view", "sensor_masks", "per_band_mask",
    "custom_index", "stack_sink", "dem_attach", "clean_levels", "clean_vector",
    "olci_load", "maxar_load",
    # raw8 image list / px template only
    "quicklook", "collocate", "nc_read", "radiometric_chain",
    # encoded-image gates
    "geotiff_read", "jp2_decode", "pyramid",
    # geocode pair
    "geocode_bilinear", "geocode_lut",
    # shared array-sum reduction
    "warp_shift", "warp_bilinear", "ortho_rpc", "gcp_ortho", "mosaic",
    "lee_despeckle", "stencil_custom", "sar_noise_chain", "jfif_decode",
    "jfif420_decode", "s2_product_e2e",
]


@pytest.fixture(scope="module")
def no_tables(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp("no_tables"))


@pytest.mark.parametrize("name", GATE_QUERIES)
def test_gate_matches_oracle(spark, oracles, no_tables, name):
    got = normalize(entrymod.queries()[name](spark, no_tables).toPandas())
    want = normalize(duckdb.connect().execute(oracles[name]).df())
    mismatch = compare(got, want)
    assert mismatch is None, mismatch
