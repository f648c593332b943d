"""Directory publish: replace a directory so readers see the old contents
or the new, never neither, and a crash between the two renames is
repaired by the next call.  The parquet stand-in for an Iceberg snapshot
commit; every directory swap in the engine goes through here."""
from __future__ import annotations

import os
import shutil


def recover_dir(target: str, bak: str) -> None:
    """Repair a crash inside ``replace_dir``: a backup with no live target
    is restored; a backup beside a live target is a finished swap's
    leftover and is dropped."""
    if os.path.exists(bak):
        if os.path.exists(target):
            shutil.rmtree(bak)
        else:
            os.rename(bak, target)


def replace_dir(staged: str, target: str, bak: str) -> None:
    """Publish *staged* as *target*: the old target (if any) is renamed
    aside to *bak*, *staged* renamed in, then *bak* dropped.  *staged*
    must be on the target's filesystem, or ``os.rename`` fails with
    EXDEV."""
    recover_dir(target, bak)
    had_target = os.path.exists(target)
    if had_target:
        os.rename(target, bak)
    os.rename(staged, target)
    if had_target:
        shutil.rmtree(bak)
