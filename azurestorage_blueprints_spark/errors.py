"""Typed error model.

The reference exposes integer exit codes
(``/root/reference/azurestorage_blueprints/exit_codes.py:1-4`` —
``EXIT_CODE_INCORRECT_CREDENTIALS=3``, ``EXIT_CODE_NO_MATCHES_FOUND=200``,
``EXIT_CODE_INVALID_FILE_PATH=201``, ``EXIT_CODE_AZURE_DELETE_ERROR=202``,
plus move's ``EXIT_CODE_AZURE_MOVE_ERROR``) and calls ``sys.exit`` from
library code. The engine instead raises a typed exception hierarchy; a
thin CLI adapter maps exceptions back to the reference's exit codes so
pipeline orchestrators keep the same contract.

Exit code 201 has no exception class: the reference declares it but
never raises it, and no engine path or CLI mapping needs it.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for all engine errors."""

    exit_code: int = 1


class IncorrectCredentialsError(EngineError):
    """Storage credentials are missing or invalid (ref exit code 3)."""

    exit_code = 3


class NoMatchesFoundError(EngineError):
    """A match predicate selected zero files (ref exit code 200).

    The reference is inconsistent here: delete & move ``sys.exit(200)``
    on zero regex matches (``delete_file.py:122-124``,
    ``move_file.py:126-128``) while upload & download no-op
    (``upload_file.py:213``). The engine exposes the policy as an
    explicit ``on_empty={'error','noop'}`` flag per verb.
    """

    exit_code = 200


class DeleteError(EngineError):
    """Blob/file delete failed (ref exit code 202)."""

    exit_code = 202


class MoveError(EngineError):
    """Move (copy+delete) failed (ref ``EXIT_CODE_AZURE_MOVE_ERROR``,
    raised at ``move_file.py:104``)."""

    exit_code = 203


class AlreadyExistsError(EngineError):
    """Destination exists and the verb forbids overwrite.

    Upload is never-overwrite in the reference
    (``upload_file.py:184,188-190`` — no ``overwrite=True``,
    ``ResourceExistsError`` aborts); download and move do overwrite.
    """

    exit_code = 204

