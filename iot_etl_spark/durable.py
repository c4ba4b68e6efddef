"""fsync by path: what the transaction log and the stage cache call
before a commit point (a log version, a ``_READY`` marker, a rename)
vouches for the files and names behind it."""

from __future__ import annotations

import os


def fsync(path: str) -> None:
    """fsync one file or directory by path."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
