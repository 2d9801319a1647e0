"""C1 credential/config wiring: connection string → Spark/Hadoop conf.

The reference's single most load-bearing config is a required
``--connection-string`` argument injected into the process environment
(``upload_file.py:16-22`` required arg; ``upload_file.py:50-58``
``set_environment_variables`` writes ``AZURE_STORAGE_CONNECTION_STRING``;
read back at ``upload_file.py:199``). The engine keeps the same CLI
contract but maps the parsed credential onto the Hadoop ABFS connector
configuration (SURVEY.md §1.2 row 6) instead of an SDK env var —
credentials live in the control plane (`spark.conf`/Hadoop conf), never
in the data plane.

Supported connection-string fields (the Azure SDK's documented format —
semicolon-separated ``Key=Value`` pairs):

- ``AccountName`` + ``AccountKey``   → SharedKey auth:
  ``fs.azure.account.key.<acct>.dfs.<suffix>``
- ``AccountName`` + ``SharedAccessSignature`` → SAS auth:
  ``fs.azure.account.auth.type/…sas.fixed.token`` keys
- ``EndpointSuffix``                 → defaults to ``core.windows.net``

No Azure SDK import and no live service contact: validation is eager
and local (the reference's bare-``except`` credential guard at
``move_file.py:90-92`` never actually contacts the service either —
SURVEY.md §2.1 fine print recommends eager validation instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from azurestorage_blueprints_spark.errors import IncorrectCredentialsError

_DEFAULT_SUFFIX = "core.windows.net"

#: template override so tests (and non-Azure deployments) can point a
#: "container" at any filesystem root, e.g. ``file:///tmp/fake/{container}``
CONTAINER_ROOT_TEMPLATE_ENV = "SPARK_GRAFT_CONTAINER_ROOT_TEMPLATE"


def parse_connection_string(connection_string: str) -> dict[str, str]:
    """Parse ``Key=Value;Key=Value`` into a dict (keys case-preserved).

    Raises :class:`IncorrectCredentialsError` (ref exit code 3) on a
    string with no recognizable fields.
    """
    parts: dict[str, str] = {}
    for chunk in connection_string.split(";"):
        chunk = chunk.strip()
        if not chunk:
            continue
        key, sep, value = chunk.partition("=")
        if not sep:
            raise IncorrectCredentialsError(
                f"malformed connection-string segment (expected Key=Value): {chunk[:40]!r}"
            )
        parts[key.strip()] = value.strip()
    if not parts:
        raise IncorrectCredentialsError("empty connection string")
    return parts


def hadoop_conf_for(connection_string: str) -> dict[str, str]:
    """Map a connection string to the Hadoop ABFS configuration keys.

    SharedKey (AccountKey) and SAS (SharedAccessSignature) are the two
    auth models the reference's connection string can carry; each maps
    to the documented ``fs.azure.*`` key set for both the ``dfs``
    (abfss) and ``blob`` (wasbs) endpoints.
    """
    parts = parse_connection_string(connection_string)
    account = parts.get("AccountName")
    if not account:
        raise IncorrectCredentialsError("connection string has no AccountName")
    suffix = parts.get("EndpointSuffix", _DEFAULT_SUFFIX)
    conf: dict[str, str] = {}
    key = parts.get("AccountKey")
    sas = parts.get("SharedAccessSignature")
    if key:
        for endpoint in ("dfs", "blob"):
            host = f"{account}.{endpoint}.{suffix}"
            conf[f"fs.azure.account.auth.type.{host}"] = "SharedKey"
            conf[f"fs.azure.account.key.{host}"] = key
    elif sas:
        host = f"{account}.dfs.{suffix}"
        conf[f"fs.azure.account.auth.type.{host}"] = "SAS"
        conf[f"fs.azure.sas.token.provider.type.{host}"] = (
            "org.apache.hadoop.fs.azurebfs.sas.FixedSASTokenProvider"
        )
        conf[f"fs.azure.sas.fixed.token.{host}"] = sas
    else:
        raise IncorrectCredentialsError(
            "connection string has neither AccountKey nor SharedAccessSignature"
        )
    return conf


def apply_connection_string(spark: SparkSession, connection_string: str) -> dict[str, str]:
    """Inject the credential into the session's Hadoop configuration.

    Returns the applied key→value mapping (values are secrets — callers
    must not log them). Mirrors the reference's env-var override
    semantics (``upload_file.py:50-58``: the CLI value overrides any
    system default).
    """
    conf = hadoop_conf_for(connection_string)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        hconf.set(k, v)
        # runtime conf too, so cloned/session-scoped readers see it
        spark.conf.set(k, v)
    return conf


def container_root(container_name: str, connection_string: str | None) -> str:
    """Resolve a container name to a filesystem root URL.

    Default: the ABFS form ``abfss://<container>@<acct>.dfs.<suffix>``
    (SURVEY.md §1.2 row 2). ``$SPARK_GRAFT_CONTAINER_ROOT_TEMPLATE``
    (e.g. ``file:///tmp/store/{container}``) overrides the mapping so
    the identical verb/CLI path runs against local trees in tests.
    """
    template = os.environ.get(CONTAINER_ROOT_TEMPLATE_ENV)
    if template:
        return template.format(container=container_name)
    if not connection_string:
        raise IncorrectCredentialsError(
            "resolving a --container-name requires --connection-string"
        )
    parts = parse_connection_string(connection_string)
    account = parts.get("AccountName")
    if not account:
        raise IncorrectCredentialsError("connection string has no AccountName")
    suffix = parts.get("EndpointSuffix", _DEFAULT_SUFFIX)
    return f"abfss://{container_name}@{account}.dfs.{suffix}"
