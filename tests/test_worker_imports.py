"""The fused stage's worker preamble drops cached zipimporter finders.

pyspark calls importlib.invalidate_caches() at the start of every task,
and each cached zipimporter then re-reads its whole archive directory.
The stage function prunes them; an import through the same zip must
still work afterwards. Runs in process, no Spark session needed.
"""

import sys
import zipfile
import zipimport
from datetime import datetime

import pandas as pd

from ai_ocr_spark.pipeline import _extract_batches


def test_stage_drops_zip_finders_and_zip_imports_still_work(tmp_path):
    archive = tmp_path / "zipmods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipmod_first.py", "VALUE = 1\n")
        z.writestr("zipmod_second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    sys.path.insert(0, str(archive))
    try:
        import zipmod_first

        assert zipmod_first.VALUE == 1
        assert any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )

        batch = pd.DataFrame(
            {
                "url": ["https://example.com/a"],
                "warc_ts": [datetime(2024, 1, 1)],
                "html": [b"<html><body><p>hello world</p></body></html>"],
            }
        )
        (out,) = list(_extract_batches("t")(iter([batch])))
        assert out["url"].tolist() == ["https://example.com/a"]

        left = [
            p
            for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        ]
        assert left == []

        import zipmod_second

        assert zipmod_second.VALUE == 2
        assert isinstance(zipmod_second.__loader__, zipimport.zipimporter)
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.pop(str(archive), None)
