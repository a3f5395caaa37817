"""Role/permission registry + audit (SURVEY §2.10 C12).

The reference's security surface is read-only *audit* over
PostgreSQL's catalog — ``audit_user_permissions`` walks ``pg_roles``
+ ``role_table_grants`` and ``get_table_access_privileges`` lists a
table's grantees (``src/postgres_managing/postgres_manager.py:
1090-1131``). A file-based Spark engine has no server enforcing
logins, so the honest counterpart is an ENGINE-LEVEL registry:

- roles with membership (inheritance) and attributes,
- per-table privilege grants (SELECT/INSERT/ALL...),
- the same two audit queries, returned as DataFrames over the
  registry so they compose with the rest of the query surface,
- an enforcement choke point (:meth:`AccessControl.check` /
  :meth:`read_table`) for applications that route data access
  through the engine's API.

Scope note (documented, not hidden): this governs access through
THIS engine's API. Storage-level enforcement at 100 TB is the
warehouse ACL layer's job (S3 bucket policies / Ranger / table-format
credentials vending) — exactly as the reference delegates actual
authentication to PostgreSQL itself.

State persists as one JSON document next to the warehouse (atomic
tmp+rename write), so grants survive sessions the way ``pg_catalog``
does.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators import scale

#: privilege vocabulary (reference surface: information_schema
#: privilege_type values the audit query aggregates)
PRIVILEGES = ("SELECT", "INSERT", "UPDATE", "DELETE", "ALL")


@dataclass
class Role:
    name: str
    superuser: bool = False
    can_login: bool = True
    memberof: set[str] = field(default_factory=set)


class AccessControl:
    """C12: roles, grants, audit, and an API-level enforcement point."""

    def __init__(self, state_path: str | None = None):
        self.state_path = state_path
        self.roles: dict[str, Role] = {}
        self.grants: dict[tuple[str, str], set[str]] = {}  # (table, role)
        if state_path and os.path.exists(state_path):
            self._load()

    # -- role management ----------------------------------------------------

    def create_role(
        self,
        name: str,
        superuser: bool = False,
        can_login: bool = True,
        memberof: list[str] | None = None,
    ) -> None:
        # PostgreSQL raises 'role already exists'; silently replacing
        # would reset superuser/memberships while the role's grants
        # survive — a security registry must never do that implicitly.
        # Use alter_role to change attributes in place.
        if name in self.roles:
            raise ValueError(f"role {name!r} already exists")
        for parent in memberof or []:
            if parent not in self.roles:
                raise ValueError(f"unknown parent role {parent!r}")
        self.roles[name] = Role(
            name, superuser, can_login, set(memberof or [])
        )
        self._save()

    def alter_role(
        self,
        name: str,
        superuser: bool | None = None,
        can_login: bool | None = None,
    ) -> None:
        """ALTER ROLE twin: change attributes without touching
        memberships or grants."""
        if name not in self.roles:
            raise ValueError(f"unknown role {name!r}")
        r = self.roles[name]
        if superuser is not None:
            r.superuser = superuser
        if can_login is not None:
            r.can_login = can_login
        self._save()

    def drop_role(self, name: str) -> None:
        self.roles.pop(name, None)
        self.grants = {
            k: v for k, v in self.grants.items() if k[1] != name
        }
        for r in self.roles.values():
            r.memberof.discard(name)
        self._save()

    # -- grants -------------------------------------------------------------

    def grant(self, privilege: str, table: str, role: str) -> None:
        if privilege not in PRIVILEGES:
            raise ValueError(f"unknown privilege {privilege!r}")
        if role not in self.roles:
            raise ValueError(f"unknown role {role!r}")
        self.grants.setdefault((table, role), set()).add(privilege)
        self._save()

    def revoke(self, privilege: str, table: str, role: str) -> None:
        key = (table, role)
        if key in self.grants:
            self.grants[key].discard(privilege)
            if not self.grants[key]:
                del self.grants[key]
        self._save()

    # -- checks -------------------------------------------------------------

    def _expanded(self, role: str) -> set[str]:
        """role + every role reachable through memberof (inheritance,
        cycle-safe)."""
        seen: set[str] = set()
        stack = [role]
        while stack:
            r = stack.pop()
            if r in seen or r not in self.roles:
                continue
            seen.add(r)
            stack.extend(self.roles[r].memberof)
        return seen

    def check(self, role: str, table: str, privilege: str) -> bool:
        if role not in self.roles:
            return False
        for r in self._expanded(role):
            if self.roles[r].superuser:
                return True
            held = self.grants.get((table, r), set())
            if "ALL" in held or privilege in held:
                return True
        return False

    def read_table(
        self, spark: SparkSession, role: str, table: str, path: str
    ) -> DataFrame:
        """The enforcement choke point: SELECT-checked parquet read.

        The ACTING role must be able to log in (NOLOGIN roles are
        group containers — their privileges flow to members via
        inheritance, but they cannot act directly, mirroring
        pg_roles.rolcanlogin)."""
        acting = self.roles.get(role)
        if acting is not None and not acting.can_login:
            raise PermissionError(
                f"role {role!r} cannot log in (NOLOGIN group role)"
            )
        if not self.check(role, table, "SELECT"):
            raise PermissionError(
                f"role {role!r} lacks SELECT on {table!r}"
            )
        return spark.read.parquet(path)

    # -- audit (the reference's two queries, as DataFrames) -----------------

    def audit_user_permissions(self, spark: SparkSession) -> DataFrame:
        """``audit_user_permissions`` twin
        (``postgres_manager.py:1090-1118``): one row per role with
        attributes, memberships, and the distinct privileges it holds
        anywhere."""
        rows = []
        for r in sorted(self.roles.values(), key=lambda x: x.name):
            privs = sorted(
                {
                    p
                    for (t, g), ps in self.grants.items()
                    if g == r.name
                    for p in ps
                }
            )
            rows.append(
                (
                    r.name,
                    r.superuser,
                    r.can_login,
                    sorted(r.memberof),
                    privs,
                )
            )
        return scale.local_frame(
            spark,
            rows,
            "rolname string, rolsuper boolean, rolcanlogin boolean,"
            " memberof array<string>, privileges array<string>",
        )

    def get_table_access_privileges(
        self, spark: SparkSession, table: str
    ) -> DataFrame:
        """``get_table_access_privileges`` twin
        (``postgres_manager.py:1120-1131``): grantees of one table
        with their aggregated privilege list."""
        rows = [
            (role, ", ".join(sorted(ps)))
            for (t, role), ps in sorted(self.grants.items())
            if t == table
        ]
        return scale.local_frame(
            spark, rows, "grantee string, privileges string"
        )

    # -- persistence --------------------------------------------------------

    def _save(self) -> None:
        if not self.state_path:
            return
        doc = {
            "roles": {
                r.name: {
                    "superuser": r.superuser,
                    "can_login": r.can_login,
                    "memberof": sorted(r.memberof),
                }
                for r in self.roles.values()
            },
            "grants": [
                {"table": t, "role": r, "privileges": sorted(ps)}
                for (t, r), ps in sorted(self.grants.items())
            ],
        }
        d = os.path.dirname(self.state_path) or "."
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".acl")
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, self.state_path)  # atomic on POSIX

    def _load(self) -> None:
        with open(self.state_path) as f:
            doc = json.load(f)
        self.roles = {
            name: Role(
                name,
                spec.get("superuser", False),
                spec.get("can_login", True),
                set(spec.get("memberof", [])),
            )
            for name, spec in doc.get("roles", {}).items()
        }
        self.grants = {
            (g["table"], g["role"]): set(g["privileges"])
            for g in doc.get("grants", [])
        }
