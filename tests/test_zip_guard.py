"""The stamp guard on ``zipimporter.invalidate_caches`` that ``import
flowforge`` installs (``flowforge._guard_zip_invalidation``).

Runs in a fresh interpreter, so the reads are counted from before the
package is imported: an unchanged archive is never re-read, a rewritten
one is, a deleted one is dropped as the stock method drops it, and a second
install changes nothing.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r'''
import importlib
import os
import sys
import zipfile
import zipimport

archive = os.path.join(sys.argv[1], "zpkg.zip")


def write(modules):
    with zipfile.ZipFile(archive, "w") as zf:  # rewrites in place
        for name in modules:
            zf.writestr(name, "VALUE = %r\n" % name)


write(["zpkg/__init__.py", "zpkg/a/__init__.py", "zpkg/b/__init__.py"])
sys.path.insert(0, archive)
import zpkg.a
import zpkg.b

importers = [f for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter) and f.archive == archive]
assert len(importers) >= 2, importers

reads = []
stock_read = zipimport._read_directory


def counting(path):
    reads.append(path)
    return stock_read(path)


zipimport._read_directory = counting

import flowforge

assert reads.count(archive) == 1, reads  # installing reads it once
del reads[:]
for _ in range(3):
    importlib.invalidate_caches()
assert reads == [], reads

write(["zpkg/__init__.py", "zpkg/a/__init__.py", "zpkg/b/__init__.py",
       "zpkg/a/new.py"])
importlib.invalidate_caches()
assert reads == [archive], reads
import zpkg.a.new
assert zpkg.a.new.VALUE == "zpkg/a/new.py"
del reads[:]
importlib.invalidate_caches()
assert reads == [], reads

os.remove(archive)
importlib.invalidate_caches()
importlib.invalidate_caches()
assert archive not in zipimport._zip_directory_cache
assert all(f._files == {} for f in importers)

guarded = zipimport.zipimporter.invalidate_caches
flowforge._guard_zip_invalidation()
assert zipimport.zipimporter.invalidate_caches is guarded
print("ok")
'''


def test_zip_guard_semantics(tmp_path):
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run([sys.executable, "-c", SCRIPT, str(tmp_path)],
                         capture_output=True, text=True, env=env, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
