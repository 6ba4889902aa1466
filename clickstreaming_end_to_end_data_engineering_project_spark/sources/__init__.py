from .tables import load  # noqa: F401
