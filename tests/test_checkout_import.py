"""The tests import the package of the checkout they live in.

conftest puts its own checkout first on `sys.path`, so a second checkout
(a copy of an older commit, say) tests its own package, not another
one's."""

from __future__ import annotations

import os

import conftest
import emr_flink_example_spark


def test_package_comes_from_this_checkout():
    root = os.path.dirname(os.path.dirname(os.path.abspath(conftest.__file__)))
    pkg = os.path.abspath(emr_flink_example_spark.__file__)
    assert os.path.commonpath([root, pkg]) == root, (pkg, root)
