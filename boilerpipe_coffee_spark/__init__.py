# Stop Python workers re-reading zip directories on every task (see _zipdir).
from . import _zipdir  # noqa: F401
