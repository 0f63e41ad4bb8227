"""``__spark_entry__.py`` writes its caches under the checkout it runs
from, so a second copy of the repository never reads the first copy's
memoized inputs."""

import importlib.util
import shutil
from pathlib import Path

ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def test_stream_dir_is_under_the_loaded_checkout(tmp_path):
    checkout = tmp_path / "checkout"
    checkout.mkdir()
    shutil.copy(ENTRY, checkout / ENTRY.name)
    spec = importlib.util.spec_from_file_location(
        "entry_copy", checkout / ENTRY.name
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    (sf_dir / "events.parquet").write_bytes(b"stand-in")
    d = Path(entry._stream_dir(str(sf_dir))).resolve()
    assert d.is_relative_to(checkout)
    assert (d / "events.parquet").read_bytes() == b"stand-in"
