import os

from run import snapshot


def _write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)


def test_snapshot_hashes_the_checkout_but_not_what_runs_may_write(tmp_path):
    root = str(tmp_path)
    _write(root, "pkg/mod.py", "x = 1\n")
    _write(root, "jvm/src/A.java", "class A {}\n")
    for scratch in ("perfbench/.work/inputs/t.parquet", "spark-warehouse/t",
                    "jvm/classes/A.class", "jvm/ihc-udaf.jar",
                    "pkg/__pycache__/mod.cpython-311.pyc", "pkg/old.pyc"):
        _write(root, scratch, "scratch")
    before = snapshot(root)
    assert set(before) == {"pkg/mod.py", "jvm/src/A.java"}

    _write(root, "pkg/mod.py", "x = 2\n")
    _write(root, "jvm/ihc-udaf.jar", "rebuilt")
    after = snapshot(root)
    assert before["pkg/mod.py"] != after["pkg/mod.py"]
    assert before["jvm/src/A.java"] == after["jvm/src/A.java"]
