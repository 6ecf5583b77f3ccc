"""Feature selector (FQN) grammar.

Reference grammar (``/root/reference/labsdk/raptor/program.py:45-47``,
``/root/reference/api/common.go:25-57``)::

    [namespace.]name[+aggrFn][@-version][[encoding]]

e.g. ``default.turns_10m+count@-1``.  ``+fn`` selects one aggregation
column of a windowed feature; ``@-N`` selects the N-th previous value
(keep_previous / lag); ``[enc]`` is an encoding hint (accepted, unused).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

DEFAULT_NAMESPACE = "default"

_SELECTOR = re.compile(
    r"^(?:(?P<namespace>[a-z0-9_]+)\.)?"
    r"(?P<name>[a-z0-9_]+)"
    r"(?:\+(?P<fn>[a-z_]+))?"
    r"(?:@-(?P<version>\d+))?"
    r"(?:\[(?P<encoding>[a-z0-9_-]+)\])?$",
    re.IGNORECASE,
)


@dataclass(frozen=True)
class Selector:
    namespace: str
    name: str
    fn: str | None = None
    version: int = 0
    encoding: str | None = None

    @property
    def fqn(self) -> str:
        return f"{self.namespace}.{self.name}"

    @property
    def column(self) -> str:
        """Flat column name this selector resolves to in a wide output."""
        col = self.name
        if self.fn:
            col += f"_{self.fn}"
        if self.version:
            col += f"_prev{self.version}"
        return col

    def __str__(self) -> str:
        s = self.fqn
        if self.fn:
            s += f"+{self.fn}"
        if self.version:
            s += f"@-{self.version}"
        if self.encoding:
            s += f"[{self.encoding}]"
        return s


def parse_selector(s: str, default_namespace: str = DEFAULT_NAMESPACE) -> Selector:
    m = _SELECTOR.match(s.strip())
    if not m:
        raise ValueError(f"invalid feature selector: {s!r}")
    return Selector(
        namespace=m.group("namespace") or default_namespace,
        name=m.group("name"),
        fn=m.group("fn"),
        version=int(m.group("version") or 0),
        encoding=m.group("encoding"),
    )
