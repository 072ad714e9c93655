"""The suite tests the checkout it lives in."""

from __future__ import annotations

from pathlib import Path


def test_package_imports_from_this_checkout(repo_root):
    import nfl_big_data_bowl_2024_spark as pkg

    assert Path(pkg.__file__).resolve().is_relative_to(repo_root)
