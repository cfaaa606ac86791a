from .testdata import TABLES  # noqa: F401
